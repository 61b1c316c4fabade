"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 is registered here as a named query
(``inv_<section>_<name>``) with a DuckDB oracle twin. The implementations
live in ``market_data_pipeline_spark/``; this module only wires them to the
driver's testdata tables and keeps the Spark/SQL column names aligned
(the driver hashes values under sorted column names).

Conventions:
- computed doubles are ``round(x, 4)`` (6 for ratios in [-1, 1]) on BOTH
  sides so cross-engine float noise can't flip the hash;
- every top-k has a unique-key tiebreak so the row set is deterministic;
- the EMA/MACD recursion is oracle-checked via a DuckDB RECURSIVE CTE whose
  update rule is bitwise-equal to pandas ``ewm(adjust=False)``; only SimHash
  bit math and media byte stats remain rows-only (pytest oracles in tests/).

``queries()`` orders the registry for the driver, which checks its first
50 names per run: queries with no clean row in any committed
``CORRECTNESS_r*.json`` come first, in registration order, then the green
ones stalest first (by last clean round, then name). Each returned function
applies ``tune_existing`` to the session before building its frame, so no
query body pins session confs itself.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.functions.helpers import (
    min_periods,
    safe_div,
    series_window,
)
from market_data_pipeline_spark.functions.parsing import (
    PARSE_FINANCIAL_SQL,
    parse_financial_value,
)
from market_data_pipeline_spark.operators import (
    behavior,
    breadth,
    cleaning,
    dedup,
    fundamentals,
    indicators,
    quality,
    relational,
    screeners,
    similarity,
    text,
)
from market_data_pipeline_spark.session import tune_existing
from market_data_pipeline_spark.sources.tables import (
    BARS_SQL,
    SERIES_SQL,
    bars_from_events,
    load_table,
    series_from_events,
)
from market_data_pipeline_spark.streaming import jobs as streaming_jobs

# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's full daily path (pipeline.py:277-306) as one
    lazy plan — clean → indicator chain (SMA/RSI/Bollinger/EMA/MACD) →
    composite buy/sell signal per symbol (technical_screener.py:143-203)."""
    tune_existing(spark)
    bars = bars_from_events(spark, SF0001).select("symbol", "d", "close", "volume")
    # Fused W14 scan: one symbol window stage for every native indicator,
    # one per-symbol pandas pass (EMA recursion + latest row) reusing its
    # partitioning — 2 exchanges end-to-end.
    signal = screeners.composite_signal_scan(bars, time_col="d")
    return signal.select(
        "symbol", "d", "close", "rsi", "score", "overall_signal", "confidence"
    )


# ---------------------------------------------------------------------------
# shared wiring helpers
# ---------------------------------------------------------------------------


def _series(spark: SparkSession, sf: str) -> DataFrame:
    return series_from_events(spark, sf)


def _bars(spark: SparkSession, sf: str) -> DataFrame:
    return bars_from_events(spark, sf)



def _docs(spark: SparkSession, sf: str) -> DataFrame:
    """documents scan, spread across cores WHEN NEEDED: the testdata ships
    ONE parquet row group (unsplittable -> 1 task), while a real lake has
    many splits. The repartition that restores local parallelism would be
    a full corpus shuffle at scale, so it is GATED on the scan actually
    being under-parallelised (fewer scan partitions than half the cores) —
    on real multi-split inputs it disappears entirely."""
    d = load_table(spark, sf, "documents")
    target = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < max(2, target // 2):
        return d.repartition(target)
    return d

def _with_series_indicators(bars: DataFrame) -> DataFrame:
    w = series_window(time_col="d")
    df = indicators.add_sma(bars, periods=(10, 20), w=w)
    df = indicators.add_rsi(df, period=14, w=w)
    df = indicators.add_volume_metrics(df, w=w)
    return df


_WIN = "PARTITION BY symbol ORDER BY time"
_WIND = "PARTITION BY symbol ORDER BY d"


# ---------------------------------------------------------------------------
# queries — P* cleaning / projections
# ---------------------------------------------------------------------------


def q_p1_series_normalize(spark: SparkSession, sf: str) -> DataFrame:
    return _series(spark, sf)


SQL_P1 = f"WITH {SERIES_SQL} SELECT event_id, symbol, time, close FROM series"


def q_p4_dedupe_keep_last(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.functions.helpers import keep_last_dedupe

    return keep_last_dedupe(_series(spark, sf), ["symbol", "time"], "event_id")


SQL_P4 = f"""
WITH {SERIES_SQL},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY symbol, time ORDER BY event_id DESC) AS rn
  FROM series
)
SELECT event_id, symbol, time, close FROM ranked WHERE rn = 1
"""


def q_p5_props_cast(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    return e.select(
        "event_id",
        F.upper(F.trim(F.col("event_type"))).alias("etype"),
        F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("int").alias("k"),
        F.col("value").cast("double").alias("value_d"),
    )


SQL_P5 = """
SELECT event_id,
       upper(trim(event_type)) AS etype,
       try_cast(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) AS k,
       CAST(value AS DOUBLE) AS value_d
FROM events
"""


def q_p7_symbol_filter(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf).select(
        F.upper(F.trim(F.col("source"))).alias("symbol")
    )
    return cleaning.validate_symbols(d).select("symbol")


SQL_P7 = """
SELECT DISTINCT upper(trim(source)) AS symbol
FROM documents
WHERE regexp_matches(upper(trim(source)), '^[A-Z0-9]{3,5}$')
"""


def q_p8_exchange_predicate(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    return c.filter(
        (F.col("c_mktsegment") == "AUTOMOBILE") & (F.col("c_acctbal") > 0)
    ).select("c_custkey", "c_name", "c_acctbal")


SQL_P8 = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 0
"""


def q_p11_prefix_filter(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    from market_data_pipeline_spark.operators.universe import drop_etf_prefixes

    return drop_etf_prefixes(p.select(F.col("p_name").alias("symbol"), "p_partkey"))


SQL_P11 = """
SELECT p_name AS symbol, p_partkey FROM part
WHERE NOT regexp_matches(p_name, '^(VF|FUE|E1VF|SSV)')
"""


def q_p13_criteria_screen(spark: SparkSession, sf: str) -> DataFrame:
    df = _with_series_indicators(_bars(spark, sf))
    crit = {"rsi": {"op": "lt", "value": 60}, "close": {"op": "gt", "col": "ma_10"}}
    out = screeners.screen(df, crit, time_col="d")
    return out.select("symbol", "d", F.round("rsi", 4).alias("rsi"), "close")


# oracle composed below (shares the indicator CTE)


# ---------------------------------------------------------------------------
# queries — W* windows on the tick series
# ---------------------------------------------------------------------------


def q_w1_sma(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    w = series_window()
    df = indicators.add_sma(s, periods=(10, 20), w=w)
    return df.select(
        "symbol",
        "time",
        "close",
        F.round("ma_10", 4).alias("ma_10"),
        F.round("ma_20", 4).alias("ma_20"),
    )


SQL_W1 = f"""
WITH {SERIES_SQL}
SELECT symbol, time, close,
  round(CASE WHEN count(close) OVER w10 >= 10 THEN avg(close) OVER w10 END, 4) AS ma_10,
  round(CASE WHEN count(close) OVER w20 >= 20 THEN avg(close) OVER w20 END, 4) AS ma_20
FROM series
WINDOW w10 AS ({_WIN} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
       w20 AS ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


def q_w3_rsi(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    df = indicators.add_rsi(s, period=14, w=series_window())
    return df.select("symbol", "time", F.round("rsi", 4).alias("rsi"), "rsi_signal")


SQL_W3 = f"""
WITH {SERIES_SQL},
d AS (
  SELECT symbol, time, close,
         close - lag(close) OVER ({_WIN}) AS delta
  FROM series
),
g AS (
  SELECT symbol, time,
    CASE WHEN count(delta) OVER w >= 14
         THEN avg(CASE WHEN delta IS NULL THEN NULL ELSE greatest(delta, 0) END) OVER w END AS avg_gain,
    CASE WHEN count(delta) OVER w >= 14
         THEN avg(CASE WHEN delta IS NULL THEN NULL ELSE greatest(-delta, 0) END) OVER w END AS avg_loss
  FROM d
  WINDOW w AS ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
r AS (
  SELECT symbol, time,
         100 - 100 / (1 + avg_gain / nullif(avg_loss, 0)) AS rsi
  FROM g
)
SELECT symbol, time, round(rsi, 4) AS rsi,
       CASE WHEN rsi > 70 THEN 'overbought'
            WHEN rsi < 30 THEN 'oversold'
            ELSE 'neutral' END AS rsi_signal
FROM r
"""


def q_w5_bollinger(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    df = indicators.add_bollinger(s, w=series_window())
    return df.select(
        "symbol",
        "time",
        F.round("bb_middle", 4).alias("bb_middle"),
        F.round("bb_upper", 4).alias("bb_upper"),
        F.round("bb_lower", 4).alias("bb_lower"),
        F.round("bb_width", 4).alias("bb_width"),
        F.round("bb_position", 4).alias("bb_position"),
    )


SQL_W5 = f"""
WITH {SERIES_SQL},
b AS (
  SELECT symbol, time, close,
    CASE WHEN count(close) OVER w >= 20 THEN avg(close) OVER w END AS mid,
    CASE WHEN count(close) OVER w >= 20 THEN stddev_samp(close) OVER w END AS sd
  FROM series
  WINDOW w AS ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, time,
  round(mid, 4) AS bb_middle,
  round(mid + 2.0 * sd, 4) AS bb_upper,
  round(mid - 2.0 * sd, 4) AS bb_lower,
  round(((mid + 2.0 * sd) - (mid - 2.0 * sd)) / nullif(mid, 0), 4) AS bb_width,
  round(least(greatest((close - (mid - 2.0 * sd)) / nullif((mid + 2.0 * sd) - (mid - 2.0 * sd), 0), 0.0), 1.0), 4) AS bb_position
FROM b
"""


def q_w8_returns_momentum(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    df = indicators.add_returns_momentum(s, w=series_window(), horizons=(5, 21))
    # +1e-9 before each round, mirrored in SQL_W8: dyadic test prices make
    # exact .5-boundary ratios (e.g. 8.0046875) where engine round modes
    # split — the shared nudge moves both off the boundary identically
    eps = F.lit(1e-9)
    return df.select(
        "symbol",
        "time",
        F.round(F.col("daily_return_pct") + eps, 6).alias("ret_pct"),
        F.round(F.col("daily_return_abs") + eps, 4).alias("ret_abs"),
        F.round(F.col("cumulative_return") + eps, 6).alias("cum_ret"),
        F.round(F.col("momentum_5") + eps, 6).alias("momentum_5"),
        F.round(F.col("momentum_1m") + eps, 6).alias("momentum_1m"),
    )


SQL_W8 = f"""
WITH {SERIES_SQL},
r AS (
  SELECT symbol, time, close,
    close / nullif(lag(close, 1) OVER ({_WIN}), 0) - 1 AS ret,
    close - lag(close, 1) OVER ({_WIN}) AS ret_abs,
    close / nullif(lag(close, 5) OVER ({_WIN}), 0) - 1 AS m5,
    close / nullif(lag(close, 21) OVER ({_WIN}), 0) - 1 AS m21
  FROM series
)
SELECT symbol, time,
  round(ret + 1e-9, 6) AS ret_pct,
  round(ret_abs + 1e-9, 4) AS ret_abs,
  -- a close of 0 makes its factor 0: the cumulative product is 0 (cum
  -- return −1) from that row on — pandas cumprod semantics, matching the
  -- any-zero flag in helpers.cumprod1p_minus1 (ln of the zero factor is
  -- excluded from the sum; DuckDB would error on ln(0)). The +1e-9
  -- nudges mirror the Spark side off exact .5 rounding boundaries.
  CASE WHEN max(CASE WHEN 1 + coalesce(ret, 0) <= 0 THEN 1 ELSE 0 END)
         OVER ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
       THEN round(-1.0 + 1e-9, 6)
       ELSE round(exp(coalesce(sum(CASE WHEN 1 + coalesce(ret, 0) > 0 THEN ln(1 + coalesce(ret, 0)) END) OVER ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)) - 1 + 1e-9, 6)
  END AS cum_ret,
  round(m5 + 1e-9, 6) AS momentum_5,
  round(m21 + 1e-9, 6) AS momentum_1m
FROM r
"""


def q_w9_ytd(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    df = indicators.add_ytd_momentum(s, current_year=2024)
    return df.select("symbol", "time", F.round("momentum_ytd", 6).alias("momentum_ytd"))


SQL_W9 = f"""
WITH {SERIES_SQL}
SELECT symbol, time,
  CASE WHEN year(time) = 2024 THEN
    round(close / nullif(first_value(close) OVER (PARTITION BY symbol, year(time) ORDER BY time), 0) - 1, 6)
  END AS momentum_ytd
FROM series
"""


def q_w10_dist_ma(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    w = series_window()
    df = indicators.add_sma(s, periods=(20,), w=w)
    df = indicators.add_dist_ma(df, periods=(20,))
    return df.select("symbol", "time", F.round("dist_ma_20", 6).alias("dist_ma_20"))


SQL_W10 = f"""
WITH {SERIES_SQL},
m AS (
  SELECT symbol, time, close,
    CASE WHEN count(close) OVER w >= 20 THEN avg(close) OVER w END AS ma
  FROM series
  WINDOW w AS ({_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, time, round((close - ma) / nullif(ma, 0), 6) AS dist_ma_20
FROM m
"""


def q_w17_ffill(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    # punch deterministic holes (error events), then forward-fill per user
    holed = e.select(
        "event_id",
        F.col("user_id").alias("symbol"),
        F.col("ts").alias("time"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    w = series_window()
    from market_data_pipeline_spark.functions.helpers import ffill

    return holed.withColumn("v_filled", ffill("v", w)).select(
        "symbol", "time", "v", "v_filled"
    )


SQL_W17 = """
WITH holed AS (
  SELECT event_id, user_id AS symbol, ts AS time,
         CASE WHEN event_type <> 'error' THEN value END AS v
  FROM events
)
SELECT symbol, time, v,
  last_value(v IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
FROM holed
"""


def q_w15_divergence(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    df = indicators.add_rsi(s, period=14, w=series_window())
    out = screeners.scan_divergence(df, indicator="rsi", lookback=14, w=series_window())
    return out.select("symbol", "time", "close", F.round("rsi", 4).alias("rsi"), "divergence")


SQL_W15 = f"""
WITH {SERIES_SQL},
d AS (
  SELECT symbol, time, close,
         close - lag(close) OVER ({_WIN}) AS delta
  FROM series
),
g AS (
  SELECT symbol, time, close,
    CASE WHEN count(delta) OVER w >= 14
         THEN avg(CASE WHEN delta IS NULL THEN NULL ELSE greatest(delta, 0) END) OVER w END AS avg_gain,
    CASE WHEN count(delta) OVER w >= 14
         THEN avg(CASE WHEN delta IS NULL THEN NULL ELSE greatest(-delta, 0) END) OVER w END AS avg_loss
  FROM d
  WINDOW w AS ({_WIN} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
r AS (
  SELECT symbol, time, close,
         100 - 100 / (1 + avg_gain / nullif(avg_loss, 0)) AS rsi
  FROM g
),
dv AS (
  SELECT symbol, time, close, rsi,
    close - lag(close, 14) OVER ({_WIN}) AS price_d,
    rsi - lag(rsi, 14) OVER ({_WIN}) AS ind_d
  FROM r
)
SELECT symbol, time, close, round(rsi, 4) AS rsi,
  CASE WHEN price_d > 0 AND ind_d < 0 THEN 'regular'
       WHEN price_d < 0 AND ind_d > 0 THEN 'hidden' END AS divergence
FROM dv
WHERE (price_d > 0 AND ind_d < 0) OR (price_d < 0 AND ind_d > 0)
"""


# ---------------------------------------------------------------------------
# queries — bars & market analytics
# ---------------------------------------------------------------------------


def q_bars_ohlcv(spark: SparkSession, sf: str) -> DataFrame:
    return _bars(spark, sf)


SQL_BARS = f"WITH {BARS_SQL} SELECT * FROM bars"


def q_w6_atr(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    df = indicators.add_atr(b, period=10, w=series_window(time_col="d"))
    return df.select(
        "symbol",
        "d",
        F.round("atr", 4).alias("atr"),
        F.round("close_std", 4).alias("close_std"),
        F.round("volatility_ratio", 6).alias("volatility_ratio"),
    )


SQL_W6 = f"""
WITH {BARS_SQL},
t AS (
  SELECT symbol, d, close,
    greatest(high - low,
             abs(high - lag(close) OVER ({_WIND})),
             abs(low - lag(close) OVER ({_WIND}))) AS tr
  FROM bars
),
a AS (
  SELECT symbol, d, close,
    CASE WHEN count(tr) OVER w >= 10 THEN avg(tr) OVER w END AS atr,
    CASE WHEN count(close) OVER w >= 10 THEN stddev_samp(close) OVER w END AS close_std
  FROM t
  WINDOW w AS ({_WIND} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT symbol, d, round(atr, 4) AS atr, round(close_std, 4) AS close_std,
       round(atr / nullif(close, 0), 6) AS volatility_ratio
FROM a
"""


def q_w7_volume_obv(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    df = indicators.add_volume_metrics(b, w=series_window(time_col="d"))
    return df.select(
        "symbol",
        "d",
        F.round("vol_sma_10", 4).alias("vol_sma_10"),
        F.round("volume_ratio", 6).alias("volume_ratio"),
        F.round("obv", 4).alias("obv"),
        F.round("volume_price_trend", 4).alias("volume_price_trend"),
    )


SQL_W7 = f"""
WITH {BARS_SQL},
v AS (
  SELECT symbol, d, volume,
    CASE WHEN count(volume) OVER w10 >= 10 THEN avg(volume) OVER w10 END AS vol_sma_10,
    CASE WHEN count(volume) OVER w20 >= 20 THEN avg(volume) OVER w20 END AS vol_sma_20,
    close - lag(close) OVER ({_WIND}) AS delta
  FROM bars
  WINDOW w10 AS ({_WIND} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
         w20 AS ({_WIND} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, d,
  round(vol_sma_10, 4) AS vol_sma_10,
  round(volume / nullif(vol_sma_20, 0), 6) AS volume_ratio,
  round(sum(CASE WHEN delta IS NULL THEN 0.0
                 WHEN delta > 0 THEN volume
                 WHEN delta < 0 THEN -volume
                 ELSE 0.0 END)
        OVER (PARTITION BY symbol ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS obv,
  round(volume * delta, 4) AS volume_price_trend
FROM v
"""


def q_w_stochastic(spark: SparkSession, sf: str) -> DataFrame:
    """Stochastic oscillator %K(14)/%D(3) — rolling min/max + SMA smoothing
    (companion to W11; absent from the reference's suite)."""
    b = _bars(spark, sf)
    df = indicators.add_stochastic(b, w=series_window(time_col="d"))
    return df.select(
        "symbol", "d",
        F.round("stoch_k", 4).alias("stoch_k"),
        F.round("stoch_d", 4).alias("stoch_d"),
    )


# %D windows over %K (itself a window) — DuckDB can't nest, so split CTEs
SQL_W_STOCH = f"""
WITH {BARS_SQL},
k AS (
  SELECT symbol, d,
    CASE WHEN count(close) OVER wk >= 14
         THEN 100.0 * (close - min(low) OVER wk)
              / nullif(max(high) OVER wk - min(low) OVER wk, 0) END AS stoch_k
  FROM bars
  WINDOW wk AS ({_WIND} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT symbol, d, round(stoch_k, 4) AS stoch_k,
  round(CASE WHEN count(stoch_k) OVER wd >= 3 THEN avg(stoch_k) OVER wd END, 4) AS stoch_d
FROM k
WINDOW wd AS ({_WIND} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_w_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Drawdown from running peak + running max drawdown (risk metric
    absent from the reference's suite)."""
    b = _bars(spark, sf)
    df = indicators.add_drawdown(b, w=series_window(time_col="d"))
    return df.select(
        "symbol", "d",
        F.round("drawdown", 6).alias("drawdown"),
        F.round("max_drawdown", 6).alias("max_drawdown"),
    )


# cummin over a window of a window — split into CTEs for DuckDB
SQL_W_DRAWDOWN = f"""
WITH {BARS_SQL},
dd AS (
  SELECT symbol, d,
    close / nullif(max(close) OVER ({_WIND} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) - 1.0 AS drawdown
  FROM bars
)
SELECT symbol, d, round(drawdown, 6) AS drawdown,
  round(min(drawdown) OVER ({_WIND} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS max_drawdown
FROM dd
"""


def q_q_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-width histogram of order value (profiling op; fixed bounds →
    single-scan plan)."""
    o = load_table(spark, sf, "orders")
    return quality.histogram(o, "o_totalprice", bins=10, lo=0.0, hi=600000.0)


SQL_Q_HISTOGRAM = """
WITH b AS (
  SELECT least(9, greatest(0, CAST(floor(o_totalprice / 60000.0) AS INT))) AS bin
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT CAST(bin AS INT) AS bin,
  CAST(round(bin * 60000.0, 6) AS DOUBLE) AS lo_edge,
  CAST(round((bin + 1) * 60000.0, 6) AS DOUBLE) AS hi_edge,
  CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY bin
"""


def q_w_vwap(spark: SparkSession, sf: str) -> DataFrame:
    """VWAP extension: cumulative + rolling-20 volume-weighted average
    price over the typical price (absent from the reference's suite)."""
    b = _bars(spark, sf)
    df = indicators.add_vwap(b, period=20, w=series_window(time_col="d"))
    return df.select(
        "symbol", "d",
        F.round("vwap_cum", 4).alias("vwap_cum"),
        F.round("vwap_20", 4).alias("vwap_20"),
    )


SQL_W_VWAP = f"""
WITH {BARS_SQL},
v AS (
  SELECT symbol, d, volume, (high + low + close) / 3.0 * volume AS tpv FROM bars
)
SELECT symbol, d,
  round(sum(tpv) OVER wall / nullif(sum(volume) OVER wall, 0), 4) AS vwap_cum,
  round(CASE WHEN count(volume) OVER w20 >= 20
             THEN sum(tpv) OVER w20 / nullif(sum(volume) OVER w20, 0) END, 4) AS vwap_20
FROM v
WINDOW wall AS ({_WIND} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       w20 AS ({_WIND} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


def q_w11_support_resistance(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    df = indicators.add_support_resistance(b, lookback=10, w=series_window(time_col="d"))
    return df.select("symbol", "d", "resistance", "support")


SQL_W11 = f"""
WITH {BARS_SQL}
SELECT symbol, d,
  CASE WHEN count(high) OVER w >= 10 THEN max(high) OVER w END AS resistance,
  CASE WHEN count(low) OVER w >= 10 THEN min(low) OVER w END AS support
FROM bars
WINDOW w AS ({_WIND} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
"""


def q_w16_rolling_corr(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    out = breadth.series_correlation(b, 0, 1, window=10)
    return out.select("d", "close_1", "close_2", "rolling_corr")


SQL_W16 = f"""
WITH {BARS_SQL},
a AS (SELECT d, close AS close_1 FROM bars WHERE symbol = 0),
b2 AS (SELECT d, close AS close_2 FROM bars WHERE symbol = 1),
j AS (SELECT a.d, close_1, close_2 FROM a JOIN b2 ON a.d = b2.d)
SELECT d, close_1, close_2,
  CASE WHEN count(*) OVER w >= 10 THEN round(corr(close_1, close_2) OVER w, 4) END AS rolling_corr
FROM j
WINDOW w AS (ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
"""


def q_w_rolling_beta(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 60-bar market beta per symbol (cov/var vs the equal-weight
    market return) — systematic-risk extension of W16."""
    b = _bars(spark, sf)
    out = breadth.rolling_beta(b, window=60)
    return out.select(
        "symbol", "d",
        F.round("r", 6).alias("r"),
        F.round("beta", 4).alias("beta"),
    )


SQL_W_BETA = f"""
WITH {BARS_SQL},
rets AS (
  SELECT symbol, d, close / nullif(lag(close) OVER ({_WIND}), 0) - 1.0 AS r FROM bars
),
mkt AS (SELECT d, avg(r) AS r_m FROM rets GROUP BY d),
j AS (SELECT rets.symbol, rets.d, rets.r, mkt.r_m FROM rets JOIN mkt ON rets.d = mkt.d)
SELECT symbol, d, round(r, 6) AS r,
  round(CASE WHEN count(r) OVER w >= 60
             THEN covar_pop(r, r_m) OVER w / nullif(var_pop(r_m) OVER w, 0) END, 4) AS beta
FROM j
WINDOW w AS ({_WIND} ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
"""


def q_w18_densify(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    out = cleaning.densify_calendar(b, date_col="d", key_cols=("symbol",), zero_fill=("volume", "n_trades"))
    return out.select("symbol", "d", "close", "volume", "n_trades")


SQL_W18 = f"""
WITH {BARS_SQL},
span AS (SELECT symbol, min(d) AS min_d, max(d) AS max_d FROM bars GROUP BY symbol),
cal AS (
  SELECT symbol,
         CAST(unnest(generate_series(CAST(min_d AS TIMESTAMP), CAST(max_d AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
  FROM span
)
SELECT cal.symbol, cal.d, bars.close,
       coalesce(bars.volume, 0.0) AS volume,
       coalesce(bars.n_trades, 0) AS n_trades
FROM cal LEFT JOIN bars ON cal.symbol = bars.symbol AND cal.d = bars.d
"""


def q_a1_breadth(spark: SparkSession, sf: str) -> DataFrame:
    return breadth.derive_breadth(_bars(spark, sf))


SQL_A1 = f"""
WITH {BARS_SQL},
delta AS (
  SELECT d, close - lag(close) OVER ({_WIND}) AS dl, close, high, low
  FROM bars
),
agg AS (
  SELECT d,
    CAST(sum(CASE WHEN dl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS advancers,
    CAST(sum(CASE WHEN dl < 0 THEN 1 ELSE 0 END) AS BIGINT) AS decliners,
    CAST(sum(CASE WHEN dl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
    CAST(sum(CASE WHEN close >= high THEN 1 ELSE 0 END) AS BIGINT) AS new_highs,
    CAST(sum(CASE WHEN close <= low THEN 1 ELSE 0 END) AS BIGINT) AS new_lows
  FROM delta GROUP BY d
)
SELECT d, advancers, decliners, unchanged, new_highs, new_lows,
  CAST(advancers + decliners + unchanged AS BIGINT) AS total_issues,
  least(greatest((advancers - decliners) * 100.0 / nullif(advancers + decliners + unchanged, 0), -100.0), 100.0) AS breadth_percent,
  round(CASE WHEN decliners = 0 THEN 0.0 ELSE CAST(advancers AS DOUBLE) / decliners END, 4) AS adv_dec_ratio
FROM agg
"""


def q_a2_market_health(spark: SparkSession, sf: str) -> DataFrame:
    return breadth.market_health(breadth.derive_breadth(_bars(spark, sf)), lookback=20)


SQL_A2 = f"""
WITH {BARS_SQL},
delta AS (
  SELECT d, close - lag(close) OVER ({_WIND}) AS dl, close, high, low
  FROM bars
),
agg AS (
  SELECT d,
    CAST(sum(CASE WHEN dl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS advancers,
    CAST(sum(CASE WHEN dl < 0 THEN 1 ELSE 0 END) AS BIGINT) AS decliners,
    CAST(sum(CASE WHEN dl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
    CAST(sum(CASE WHEN close >= high THEN 1 ELSE 0 END) AS BIGINT) AS new_highs,
    CAST(sum(CASE WHEN close <= low THEN 1 ELSE 0 END) AS BIGINT) AS new_lows
  FROM delta GROUP BY d
),
br AS (
  SELECT *,
    least(greatest((advancers - decliners) * 100.0 / nullif(advancers + decliners + unchanged, 0), -100.0), 100.0) AS breadth_percent
  FROM agg
),
tail AS (
  SELECT * FROM (SELECT br.*, row_number() OVER (ORDER BY d DESC) AS rn FROM br) WHERE rn <= 20
),
h AS (
  SELECT round(avg(breadth_percent), 4) AS avg_breadth,
         round(CAST(sum(advancers) AS DOUBLE) / nullif(sum(decliners), 0), 4) AS adv_dec,
         round(CAST(sum(new_highs) AS DOUBLE) / nullif(sum(new_lows), 0), 4) AS nh_nl,
         count(*) AS n_days
  FROM tail
)
SELECT avg_breadth, adv_dec, nh_nl, n_days,
  CASE WHEN avg_breadth > 10 THEN 'healthy'
       WHEN avg_breadth < -10 THEN 'weak'
       ELSE 'mixed' END AS health
FROM h
"""


def q_w19_regime(spark: SparkSession, sf: str) -> DataFrame:
    out = breadth.market_regime(breadth.derive_breadth(_bars(spark, sf)))
    return out.select("d", F.round("breadth_percent", 4).alias("breadth_percent"), "regime")


SQL_W19 = f"""
WITH {BARS_SQL},
delta AS (
  SELECT d, close - lag(close) OVER ({_WIND}) AS dl FROM bars
),
agg AS (
  SELECT d,
    CAST(sum(CASE WHEN dl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS advancers,
    CAST(sum(CASE WHEN dl < 0 THEN 1 ELSE 0 END) AS BIGINT) AS decliners,
    CAST(sum(CASE WHEN dl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
  FROM delta GROUP BY d
),
br AS (
  SELECT d,
    least(greatest((advancers - decliners) * 100.0 / nullif(advancers + decliners + unchanged, 0), -100.0), 100.0) AS breadth_percent
  FROM agg
),
latest AS (
  SELECT * FROM (SELECT br.*, row_number() OVER (ORDER BY d DESC) AS rn FROM br WHERE breadth_percent IS NOT NULL) WHERE rn = 1
)
SELECT d, round(breadth_percent, 4) AS breadth_percent,
  CASE WHEN breadth_percent >= 70 THEN 'strong_bullish'
       WHEN breadth_percent >= 40 THEN 'bullish'
       WHEN breadth_percent >= 20 THEN 'neutral'
       WHEN breadth_percent >= 0 THEN 'bearish'
       ELSE 'strong_bearish' END AS regime
FROM latest
"""


def q_o5_top_movers(spark: SparkSession, sf: str) -> DataFrame:
    return breadth.top_movers(_bars(spark, sf), n=5)


SQL_O5 = f"""
WITH {BARS_SQL},
r AS (
  SELECT symbol, d,
    round(close / nullif(lag(close) OVER ({_WIND}), 0) - 1, 6) AS daily_ret
  FROM bars
),
ranked AS (
  SELECT symbol, d, daily_ret,
    row_number() OVER (PARTITION BY d ORDER BY daily_ret DESC, symbol) AS gain_rank,
    row_number() OVER (PARTITION BY d ORDER BY daily_ret ASC, symbol) AS lose_rank
  FROM r WHERE daily_ret IS NOT NULL
)
SELECT d, symbol, daily_ret,
  CASE WHEN gain_rank <= 5 THEN 'top' ELSE 'bottom' END AS side
FROM ranked
WHERE gain_rank <= 5 OR lose_rank <= 5
"""


def q_a13_weekly_return(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    w = Window.partitionBy("symbol").orderBy(F.col("d").desc())
    tail = b.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= 5)
    return (
        tail.groupBy("symbol")
        .agg(
            F.round(
                safe_div(F.max_by("close", "d"), F.min_by("close", "d")) - 1, 6
            ).alias("weekly_return"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


SQL_A13 = f"""
WITH {BARS_SQL},
tail AS (
  SELECT * FROM (
    SELECT bars.*, row_number() OVER ({_WIND.replace("ORDER BY d", "ORDER BY d DESC")}) AS rn FROM bars
  ) WHERE rn <= 5
)
SELECT symbol,
  round(arg_max(close, d) / nullif(arg_min(close, d), 0) - 1, 6) AS weekly_return,
  count(*) AS n_days
FROM tail GROUP BY symbol
"""


def q_a6a8_quality(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    return quality.quality_report(s)


def q_q_profile_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Generic table profiler (§3.3 validation generalized): per-column
    null/distinct/min/max in ONE aggregation pass, long-form output."""
    o = load_table(spark, sf, "orders")
    return quality.profile_table(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


def _profile_col_sql(c: str) -> str:
    return (
        f"SELECT '{c}' AS \"column\", "
        f"CAST(count(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT) AS n_nulls, "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        f"CAST(min({c}) AS VARCHAR) AS min_val, CAST(max({c}) AS VARCHAR) AS max_val "
        f"FROM orders"
    )


SQL_Q_PROFILE = " UNION ALL ".join(
    _profile_col_sql(c)
    for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
)


SQL_QUALITY = f"""
WITH {SERIES_SQL},
agg AS (
  SELECT symbol,
    count(*) AS n_rows,
    count(DISTINCT CAST(time AS DATE)) AS n_days,
    min(CAST(time AS DATE)) AS first_day,
    max(CAST(time AS DATE)) AS last_day,
    max(time) AS freshness,
    count(*) - count(DISTINCT time) AS dup_times,
    CAST(sum(CASE WHEN close < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_close,
    CAST(sum(CASE WHEN close = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_close
  FROM series GROUP BY symbol
),
b AS (
  SELECT *,
    date_diff('day', first_day, last_day) + 1 AS span,
    isodow(first_day) - 1 AS sdow
  FROM agg
),
c AS (
  SELECT *,
    CAST((span // 7) * 5
      + greatest(0, least(span % 7, 5 - sdow))
      + greatest(0, (span % 7) - (7 - sdow)) AS BIGINT) AS expected_bdays
  FROM b
)
SELECT symbol, n_rows, n_days, first_day, last_day, freshness, dup_times, neg_close, zero_close,
  expected_bdays,
  CAST(greatest(0, expected_bdays - n_days) AS BIGINT) AS missing_days,
  greatest(100.0 - 10.0 * (
      (CASE WHEN greatest(0, expected_bdays - n_days) > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN dup_times > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN neg_close > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN zero_close > 0 THEN 1 ELSE 0 END)), 0.0) AS quality_score
FROM c
"""


# oracle for P13 (needs indicators on bars)
SQL_P13 = f"""
WITH {BARS_SQL},
d AS (
  SELECT symbol, d, close,
    close - lag(close) OVER ({_WIND}) AS delta,
    CASE WHEN count(close) OVER w10 >= 10 THEN avg(close) OVER w10 END AS ma_10
  FROM bars
  WINDOW w10 AS ({_WIND} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
g AS (
  SELECT symbol, d, close, ma_10,
    CASE WHEN count(delta) OVER w >= 14
         THEN avg(CASE WHEN delta IS NULL THEN NULL ELSE greatest(delta, 0) END) OVER w END AS avg_gain,
    CASE WHEN count(delta) OVER w >= 14
         THEN avg(CASE WHEN delta IS NULL THEN NULL ELSE greatest(-delta, 0) END) OVER w END AS avg_loss
  FROM d
  WINDOW w AS ({_WIND} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
r AS (
  SELECT symbol, d, close, ma_10,
         100 - 100 / (1 + avg_gain / nullif(avg_loss, 0)) AS rsi
  FROM g
),
latest AS (
  SELECT * FROM (SELECT r.*, row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rn FROM r) WHERE rn = 1
)
SELECT symbol, d, round(rsi, 4) AS rsi, close
FROM latest
WHERE rsi < 60 AND close > ma_10
"""


# ---------------------------------------------------------------------------
# queries — relational layer (TPC-H-ish)
# ---------------------------------------------------------------------------


def q_q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    return relational.pricing_summary(spark, sf)


SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_extendedprice), 4) AS avg_price,
  round(avg(l_discount), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_q5_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    return relational.revenue_by_nation(spark, sf)


SQL_Q5 = """
SELECT r_name, n_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_q3_top_orders(spark: SparkSession, sf: str) -> DataFrame:
    return relational.top_orders_by_revenue(spark, sf, n=10)


SQL_Q3 = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_j_anti(spark: SparkSession, sf: str) -> DataFrame:
    return relational.customers_without_orders(spark, sf)


SQL_J_ANTI = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_j_semi(spark: SparkSession, sf: str) -> DataFrame:
    return relational.customers_with_orders(spark, sf)


SQL_J_SEMI = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_j2_brand_lookup(spark: SparkSession, sf: str) -> DataFrame:
    return relational.part_supplier_lookup(spark, sf)


SQL_J2 = """
SELECT p_brand, round(sum(l_quantity), 2) AS total_qty, count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_o4_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    return relational.top_k_per_group(spark, sf, k=3)


SQL_O4 = """
SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rk <= 3
"""


def q_u_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    return relational.segment_set_ops(spark, sf)


SQL_U = """
WITH auto AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
bld AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT c_nationkey, 'union' AS set_op FROM (SELECT DISTINCT c_nationkey FROM (SELECT * FROM auto UNION ALL SELECT * FROM bld))
UNION ALL
SELECT c_nationkey, 'intersect' AS set_op FROM (SELECT c_nationkey FROM auto INTERSECT SELECT c_nationkey FROM bld)
UNION ALL
SELECT c_nationkey, 'except' AS set_op FROM (SELECT DISTINCT c_nationkey FROM (SELECT c_nationkey FROM auto EXCEPT ALL SELECT c_nationkey FROM bld))
"""


def q_rollup_revenue(spark: SparkSession, sf: str) -> DataFrame:
    return relational.rollup_revenue(spark, sf)


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_a_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    return relational.price_percentiles(spark, sf)


SQL_PCTL = """
SELECT c_mktsegment,
  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
  round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
  count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_cube_counts(spark: SparkSession, sf: str) -> DataFrame:
    return relational.cube_counts(spark, sf)


SQL_CUBE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_pivot_status(spark: SparkSession, sf: str) -> DataFrame:
    return relational.pivot_status_by_segment(spark, sf)


SQL_PIVOT = """
SELECT c_mktsegment,
  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_fulfilled,
  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_a5_segment_counts(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    return c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))


SQL_A5 = "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment"


def q_a9_sector_median(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    out = fundamentals.sector_median_comparison(c, "c_nationkey", ("c_acctbal",))
    return out.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.round("med_c_acctbal", 4).alias("med_acctbal"),
        F.col("rel_c_acctbal").alias("rel_acctbal"),
    )


SQL_A9 = """
WITH med AS (
  SELECT c_nationkey, median(c_acctbal) AS med_acctbal FROM customer GROUP BY c_nationkey
)
SELECT c_custkey, customer.c_nationkey, c_acctbal,
  round(med_acctbal, 4) AS med_acctbal,
  round((c_acctbal - med_acctbal) / nullif(abs(med_acctbal), 0), 4) AS rel_acctbal
FROM customer JOIN med ON customer.c_nationkey = med.c_nationkey
"""


def q_a10_dcf(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders").withColumn(
        "__ord", F.struct("o_orderdate", "o_orderkey")
    )
    return fundamentals.dcf_fair_value(
        o, key_col="o_custkey", period_col="__ord", cf_col="o_totalprice"
    ).select("o_custkey", "n_periods", "fair_value")


SQL_A10 = """
WITH pv AS (
  SELECT o_custkey,
    o_totalprice / power(1.1, CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE)) AS term
  FROM orders
),
agg AS (
  SELECT o_custkey, round(sum(term), 2) AS pv_sum, count(*) AS n_periods FROM pv GROUP BY o_custkey
)
SELECT o_custkey, n_periods, CASE WHEN n_periods >= 3 THEN pv_sum END AS fair_value FROM agg
"""


def q_a11_fundamental_score(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    seg_avg = c.groupBy("c_mktsegment").agg(
        F.avg(F.col("c_acctbal") / 10000.0).alias("sector_avg_roe"),
        F.avg(F.col("c_acctbal") / 20000.0).alias("sector_avg_margin"),
    )
    metrics = c.select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") / 10000.0).alias("roe"),
        (F.abs(F.col("c_acctbal")) / 5000.0).alias("debt_to_equity"),
        (F.col("c_acctbal") / 2000.0).alias("current_ratio"),
        ((F.col("c_acctbal") - 5000.0) / 10000.0).alias("revenue_growth"),
        (F.col("c_acctbal") / 20000.0).alias("gross_margin"),
    ).join(F.broadcast(seg_avg), "c_mktsegment")
    out = fundamentals.fundamental_score(metrics)
    return out.select("c_custkey", "score", "recommendation")


SQL_A11 = """
WITH seg AS (
  SELECT c_mktsegment,
    avg(c_acctbal / 10000.0) AS sector_avg_roe,
    avg(c_acctbal / 20000.0) AS sector_avg_margin
  FROM customer GROUP BY c_mktsegment
),
m AS (
  SELECT c_custkey,
    c_acctbal / 10000.0 AS roe,
    abs(c_acctbal) / 5000.0 AS debt_to_equity,
    c_acctbal / 2000.0 AS current_ratio,
    (c_acctbal - 5000.0) / 10000.0 AS revenue_growth,
    c_acctbal / 20000.0 AS gross_margin,
    sector_avg_roe, sector_avg_margin
  FROM customer JOIN seg ON customer.c_mktsegment = seg.c_mktsegment
)
SELECT c_custkey,
  (CASE WHEN roe > sector_avg_roe THEN 1 ELSE 0 END
 + CASE WHEN debt_to_equity < 1.0 THEN 1 ELSE 0 END
 + CASE WHEN current_ratio > 1.5 THEN 1 ELSE 0 END
 + CASE WHEN revenue_growth > 0.1 THEN 1 ELSE 0 END
 + CASE WHEN gross_margin > sector_avg_margin THEN 1 ELSE 0 END) AS score,
  CASE WHEN (CASE WHEN roe > sector_avg_roe THEN 1 ELSE 0 END
 + CASE WHEN debt_to_equity < 1.0 THEN 1 ELSE 0 END
 + CASE WHEN current_ratio > 1.5 THEN 1 ELSE 0 END
 + CASE WHEN revenue_growth > 0.1 THEN 1 ELSE 0 END
 + CASE WHEN gross_margin > sector_avg_margin THEN 1 ELSE 0 END) >= 4 THEN 'buy' ELSE 'hold' END AS recommendation
FROM m
"""


def q_a12_red_flags(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf).withColumn("flow", F.round(F.col("close") - F.col("open"), 4))
    return fundamentals.red_flags(
        b, key_col="symbol", period_col="d", revenue_col="volume", cf_col="flow"
    ).select("symbol", "n_periods", "neg_cf_periods", "monotone_decline", "cf_red_flag")


SQL_A12 = f"""
WITH {BARS_SQL},
f AS (
  SELECT symbol, d, volume, round(close - open, 4) AS flow,
    CASE WHEN volume < lag(volume) OVER ({_WIND}) THEN 1 ELSE 0 END
      + CASE WHEN lag(volume) OVER ({_WIND}) IS NULL THEN NULL ELSE 0 END AS decl,
    row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rn
  FROM bars
),
agg AS (
  SELECT symbol,
    count(*) AS n_periods,
    CAST(sum(CASE WHEN rn <= 4 AND decl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS recent_declines,
    CAST(sum(CASE WHEN flow < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_cf_periods
  FROM f GROUP BY symbol
)
SELECT symbol, n_periods, neg_cf_periods,
  (n_periods >= 5 AND recent_declines = 4) AS monotone_decline,
  (neg_cf_periods >= 3) AS cf_red_flag
FROM agg
"""


def q_s_viet_parse(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    raw = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") == 1, F.concat(F.col("l_quantity").cast("string"), F.lit("%")))
        .when(F.col("l_linenumber") == 2, F.concat(F.col("l_quantity").cast("string"), F.lit(" tỷ")))
        .when(F.col("l_linenumber") == 3, F.concat(F.col("l_quantity").cast("string"), F.lit(" triệu")))
        .when(F.col("l_linenumber") == 4, F.concat(F.col("l_quantity").cast("string"), F.lit(" tr")))
        .when(F.col("l_linenumber") == 5, F.lit("n/a"))
        .otherwise(F.col("l_quantity").cast("string"))
        .alias("raw"),
    )
    return raw.withColumn("parsed", F.round(parse_financial_value(F.col("raw")), 6)).select(
        "l_orderkey", "l_linenumber", "raw", "parsed"
    )


SQL_VIET = f"""
WITH raw AS (
  SELECT l_orderkey, l_linenumber,
    CASE WHEN l_linenumber = 1 THEN CAST(l_quantity AS VARCHAR) || '%'
         WHEN l_linenumber = 2 THEN CAST(l_quantity AS VARCHAR) || ' tỷ'
         WHEN l_linenumber = 3 THEN CAST(l_quantity AS VARCHAR) || ' triệu'
         WHEN l_linenumber = 4 THEN CAST(l_quantity AS VARCHAR) || ' tr'
         WHEN l_linenumber = 5 THEN 'n/a'
         ELSE CAST(l_quantity AS VARCHAR) END AS raw
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, raw, round({PARSE_FINANCIAL_SQL.format(c="raw")}, 6) AS parsed
FROM raw
"""


# ---------------------------------------------------------------------------
# queries — rows-only (no SQL twin): EMA/MACD, composite signal, breakout
# ---------------------------------------------------------------------------


def q_w2_ema_macd(spark: SparkSession, sf: str) -> DataFrame:
    # explicit projection: applyInPandas can't be column-pruned through
    s = _series(spark, sf).select("symbol", "time", "close")
    out = indicators.add_ema_macd(s, spans=(12, 26))
    return out.select(
        "symbol",
        "time",
        F.round("ema_12", 4).alias("ema_12"),
        F.round("ema_26", 4).alias("ema_26"),
        F.round("macd", 4).alias("macd"),
        F.round("macd_signal", 4).alias("macd_signal"),
        F.round("macd_hist", 4).alias("macd_hist"),
    )


def q_w14_composite_signal(spark: SparkSession, sf: str) -> DataFrame:
    # Project away open/high/low BEFORE the pandas stage: applyInPandas is a
    # pruning barrier (black-box schema), so the projection must be explicit —
    # it shrinks the Arrow round-trip payload AND lets Catalyst drop the
    # unused min/max aggregates from the bar derivation upstream.
    b = _bars(spark, sf).select("symbol", "d", "close", "volume")
    # Fused scan (round-1 verdict #1): native windows in ONE symbol window
    # stage, EMA + latest-row inside a single per-symbol pandas pass that
    # reuses the window's partitioning — 2 exchanges from ticks, O(symbols)
    # Arrow payload out.
    out = screeners.composite_signal_scan(b, time_col="d")
    return out.select(
        "symbol", "d", "close", "score", "overall_signal",
        F.round("confidence", 4).alias("confidence"),
    )


# EMA(adjust=False) as a DuckDB RECURSIVE CTE: e_t = α·c_t + (1−α)·e_{t−1}
# seeded with the first value. The arithmetic (α·x + (1−α)·prev, α = 2.0/(s+1))
# is bitwise-identical to pandas ewm's C loop — measured 0 ULP difference over
# 26k values at sf0.01 — so the 4-dp rounding is collision-free.
def _ema_rec_sql(src: str, order: str, a12: str = "2.0/13", a26: str = "2.0/27", a9: str = "2.0/10") -> str:
    return f"""
numbered AS (
  SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY {order}) AS rn FROM {src}
),
rec AS (
  SELECT *, close AS e12, close AS e26, CAST(NULL AS DOUBLE) AS esig
  FROM numbered WHERE rn = 1
  UNION ALL
  SELECT n.*, ({a12})*n.close + (1-({a12}))*r.e12,
         ({a26})*n.close + (1-({a26}))*r.e26,
         CASE WHEN n.rn = 26 THEN (({a12})*n.close + (1-({a12}))*r.e12) - (({a26})*n.close + (1-({a26}))*r.e26)
              WHEN n.rn > 26 THEN ({a9})*((({a12})*n.close + (1-({a12}))*r.e12) - (({a26})*n.close + (1-({a26}))*r.e26)) + (1-({a9}))*r.esig
         END
  FROM numbered n JOIN rec r ON n.symbol = r.symbol AND n.rn = r.rn + 1
)
""".strip()


SQL_W2 = f"""
WITH RECURSIVE {SERIES_SQL},
{_ema_rec_sql("series", "time")}
SELECT symbol, time,
  round(CASE WHEN rn >= 12 THEN e12 END, 4) AS ema_12,
  round(CASE WHEN rn >= 26 THEN e26 END, 4) AS ema_26,
  round(CASE WHEN rn >= 26 THEN e12 - e26 END, 4) AS macd,
  round(CASE WHEN rn >= 34 THEN esig END, 4) AS macd_signal,
  round(CASE WHEN rn >= 34 THEN (e12 - e26) - esig END, 4) AS macd_hist
FROM rec
"""


SQL_W14 = f"""
WITH RECURSIVE {BARS_SQL},
{_ema_rec_sql("bars", "d")},
m AS (
  SELECT symbol, d, close, volume, rn,
    CASE WHEN rn >= 26 THEN e12 - e26 END AS macd,
    CASE WHEN rn >= 34 THEN esig END AS macd_signal,
    CASE WHEN count(close) OVER w20 >= 20 THEN avg(close) OVER w20 END AS ma_20,
    CASE WHEN count(volume) OVER w20 >= 20 THEN avg(volume) OVER w20 END AS vol_sma_20,
    close - lag(close) OVER ({_WIND}) AS dl,
    lag(close) OVER ({_WIND}) AS prev_close
  FROM rec
  WINDOW w20 AS ({_WIND} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
m2 AS (
  SELECT *,
    lag(ma_20) OVER ({_WIND}) AS prev_ma20,
    lag(macd) OVER ({_WIND}) AS prev_macd,
    lag(macd_signal) OVER ({_WIND}) AS prev_sig,
    CASE WHEN dl IS NOT NULL THEN greatest(dl, 0.0) END AS gain,
    CASE WHEN dl IS NOT NULL THEN greatest(-dl, 0.0) END AS loss
  FROM m
),
m3 AS (
  SELECT *,
    CASE WHEN count(dl) OVER w14 >= 14
         THEN 100.0 - 100.0 / (1.0 + (avg(gain) OVER w14) / nullif(avg(loss) OVER w14, 0)) END AS rsi,
    row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rev_rn
  FROM m2
  WINDOW w14 AS ({_WIND} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
latest AS (SELECT * FROM m3 WHERE rev_rn = 1),
scored AS (
  SELECT symbol, d, close,
    (CASE WHEN rsi < 30 THEN 2 WHEN rsi > 70 THEN -2 ELSE 0 END)
    + (CASE WHEN close > ma_20 AND prev_close <= prev_ma20 THEN 2
            WHEN close < ma_20 AND prev_close >= prev_ma20 THEN -2 ELSE 0 END)
    + (CASE WHEN macd > macd_signal AND prev_macd <= prev_sig THEN 2
            WHEN macd < macd_signal AND prev_macd >= prev_sig THEN -2 ELSE 0 END)
    + (CASE WHEN volume > vol_sma_20 THEN 1 ELSE 0 END) AS score
  FROM latest
)
SELECT symbol, d, round(close, 4) AS close, score,
  CASE WHEN score > 1 THEN 'buy' WHEN score < -1 THEN 'sell' ELSE 'neutral' END AS overall_signal,
  round(least(1.0, abs(score) / 6.0), 4) AS confidence
FROM scored
"""


def q_w12_breakout(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    w = series_window(time_col="d")
    df = indicators.add_sma(b, periods=(10, 20), w=w)
    df = indicators.add_volume_metrics(df, w=w)
    out = screeners.detect_breakout(df, ma_period=10, w=w)
    return out.select("symbol", "d", "close", F.col("is_breakout").cast("boolean").alias("is_breakout"))


SQL_W12 = f"""
WITH {BARS_SQL},
m AS (
  SELECT symbol, d, close, volume,
    CASE WHEN count(close) OVER w10 >= 10 THEN avg(close) OVER w10 END AS ma_10,
    CASE WHEN count(volume) OVER w20 >= 20 THEN avg(volume) OVER w20 END AS vol_sma_20,
    lag(close) OVER ({_WIND}) AS prev_close
  FROM bars
  WINDOW w10 AS ({_WIND} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
         w20 AS ({_WIND} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
m2 AS (
  SELECT symbol, d, close, volume, ma_10, vol_sma_20, prev_close,
    lag(ma_10) OVER ({_WIND}) AS prev_ma,
    row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rn
  FROM m
)
SELECT symbol, d, close,
  (close > ma_10 AND prev_close <= prev_ma AND volume > 1.5 * vol_sma_20) AS is_breakout
FROM m2 WHERE rn = 1
"""


def q_w13_trend(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    w = series_window(time_col="d")
    df = indicators.add_sma(b, periods=(10, 20), w=w)
    out = screeners.check_trend(df, w=w, fast="ma_10", slow="ma_20")
    return out.select(
        "symbol", "d", "trend",
        F.round("confidence", 4).alias("confidence"),
        "higher_highs", "lower_lows",
    )


SQL_W13 = f"""
WITH {BARS_SQL},
m AS (
  SELECT symbol, d, close, high, low,
    CASE WHEN count(close) OVER w10 >= 10 THEN avg(close) OVER w10 END AS ma_10,
    CASE WHEN count(close) OVER w20 >= 20 THEN avg(close) OVER w20 END AS ma_20
  FROM bars
  WINDOW w10 AS ({_WIND} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
         w20 AS ({_WIND} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT symbol, d, close, high, low, ma_10, ma_20,
    ma_10 - lag(ma_10) OVER ({_WIND}) AS s50,
    ma_20 - lag(ma_20) OVER ({_WIND}) AS s200,
    (high > lag(high, 1) OVER ({_WIND}) AND lag(high, 1) OVER ({_WIND}) > lag(high, 2) OVER ({_WIND})) AS hi_mono,
    (low < lag(low, 1) OVER ({_WIND}) AND lag(low, 1) OVER ({_WIND}) < lag(low, 2) OVER ({_WIND})) AS lo_mono,
    row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rn
  FROM m
)
SELECT symbol, d,
  CASE WHEN close > ma_10 AND ma_10 > ma_20 AND s50 > 0 AND s200 > 0 THEN 'uptrend'
       WHEN close < ma_10 AND ma_10 < ma_20 AND s50 < 0 AND s200 < 0 THEN 'downtrend'
       ELSE 'sideways' END AS trend,
  round(least(abs(coalesce(s50, 0) + coalesce(s200, 0)), 1.0), 4) AS confidence,
  coalesce(hi_mono, FALSE) AS higher_highs,
  coalesce(lo_mono, FALSE) AS lower_lows
FROM s WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # cleaning / projections / filters
    "inv_p1_series_normalize": (q_p1_series_normalize, SQL_P1),
    "inv_p4_dedupe_keep_last": (q_p4_dedupe_keep_last, SQL_P4),
    "inv_p5_props_cast": (q_p5_props_cast, SQL_P5),
    "inv_p7_symbol_filter": (q_p7_symbol_filter, SQL_P7),
    "inv_p8_exchange_predicate": (q_p8_exchange_predicate, SQL_P8),
    "inv_p11_prefix_filter": (q_p11_prefix_filter, SQL_P11),
    "inv_p13_criteria_screen": (q_p13_criteria_screen, SQL_P13),
    # windows on the tick series
    "inv_w1_sma": (q_w1_sma, SQL_W1),
    "inv_w3_rsi": (q_w3_rsi, SQL_W3),
    "inv_w5_bollinger": (q_w5_bollinger, SQL_W5),
    "inv_w8_returns_momentum": (q_w8_returns_momentum, SQL_W8),
    "inv_w9_ytd": (q_w9_ytd, SQL_W9),
    "inv_w10_dist_ma": (q_w10_dist_ma, SQL_W10),
    "inv_w15_divergence": (q_w15_divergence, SQL_W15),
    "inv_w17_ffill": (q_w17_ffill, SQL_W17),
    # bars + market analytics
    "inv_s1_bars_ohlcv": (q_bars_ohlcv, SQL_BARS),
    "inv_w6_atr": (q_w6_atr, SQL_W6),
    "inv_w7_volume_obv": (q_w7_volume_obv, SQL_W7),
    "inv_w_vwap": (q_w_vwap, SQL_W_VWAP),
    "inv_w_stochastic": (q_w_stochastic, SQL_W_STOCH),
    "inv_w_drawdown": (q_w_drawdown, SQL_W_DRAWDOWN),
    "inv_w_rolling_beta": (q_w_rolling_beta, SQL_W_BETA),
    "inv_q_histogram": (q_q_histogram, SQL_Q_HISTOGRAM),
    "inv_w11_support_resistance": (q_w11_support_resistance, SQL_W11),
    "inv_w12_breakout": (q_w12_breakout, SQL_W12),
    "inv_w13_trend": (q_w13_trend, SQL_W13),
    "inv_w16_rolling_corr": (q_w16_rolling_corr, SQL_W16),
    "inv_w18_densify": (q_w18_densify, SQL_W18),
    "inv_a1_breadth": (q_a1_breadth, SQL_A1),
    "inv_a2_market_health": (q_a2_market_health, SQL_A2),
    "inv_w19_regime": (q_w19_regime, SQL_W19),
    "inv_o5_top_movers": (q_o5_top_movers, SQL_O5),
    "inv_a13_weekly_return": (q_a13_weekly_return, SQL_A13),
    "inv_a6a8_quality": (q_a6a8_quality, SQL_QUALITY),
    "inv_q_profile_orders": (q_q_profile_orders, SQL_Q_PROFILE),
    # relational layer
    "inv_q1_pricing_summary": (q_q1_pricing_summary, SQL_Q1),
    "inv_q5_revenue_by_nation": (q_q5_revenue_by_nation, SQL_Q5),
    "inv_q3_top_orders": (q_q3_top_orders, SQL_Q3),
    "inv_j_anti_no_orders": (q_j_anti, SQL_J_ANTI),
    "inv_j_semi_with_orders": (q_j_semi, SQL_J_SEMI),
    "inv_j2_brand_lookup": (q_j2_brand_lookup, SQL_J2),
    "inv_o4_topk_per_group": (q_o4_topk_per_group, SQL_O4),
    "inv_u_set_ops": (q_u_set_ops, SQL_U),
    "inv_a_percentiles": (q_a_percentiles, SQL_PCTL),
    "inv_rollup_revenue": (q_rollup_revenue, SQL_ROLLUP),
    "inv_cube_counts": (q_cube_counts, SQL_CUBE),
    "inv_pivot_status": (q_pivot_status, SQL_PIVOT),
    "inv_a5_segment_counts": (q_a5_segment_counts, SQL_A5),
    # fundamentals
    "inv_a9_sector_median": (q_a9_sector_median, SQL_A9),
    "inv_a10_dcf": (q_a10_dcf, SQL_A10),
    "inv_a11_fundamental_score": (q_a11_fundamental_score, SQL_A11),
    "inv_a12_red_flags": (q_a12_red_flags, SQL_A12),
    "inv_s_viet_parse": (q_s_viet_parse, SQL_VIET),
    # rows-only (EMA recursion is not SQL-expressible; pytest carries the
    # pandas oracle — tests/test_indicators.py)
    "inv_w2_ema_macd": (q_w2_ema_macd, SQL_W2),
    "inv_w14_composite_signal": (q_w14_composite_signal, SQL_W14),
}




# ---------------------------------------------------------------------------
# queries — text analysis over documents (north-star)
# ---------------------------------------------------------------------------

# DuckDB twin of text.normalized(); DuckDB regexp_replace needs the 'g' flag
# (Spark replaces all matches by default).
# [\s\v], not \s: DuckDB regexes are RE2, whose \s EXCLUDES vertical tab
# (\x0B), while Spark/Java \s includes it — a doc containing \x0B would
# tokenize differently across engines (r3 review finding, empirically
# confirmed). Adding \v to the class makes RE2 match Java exactly.
_NORM_SQL = "trim(regexp_replace(lower(text), '[\\s\\v]+', ' ', 'g'))"


def _sql_byte_at(hx: str, idx: str) -> str:
    """Byte value at 0-based index ``idx`` of the hex-expanded payload
    column ``hx`` — the ONE definition of the engine-portable byte decoder
    every media oracle shares (DuckDB md5/BLOB functions are VARCHAR-only,
    so byte math goes through hex)."""
    return (
        f"strpos('0123456789ABCDEF', substr({hx}, CAST(2 * ({idx}) + 1 AS INT), 1)) * 16"
        f" + strpos('0123456789ABCDEF', substr({hx}, CAST(2 * ({idx}) + 2 AS INT), 1)) - 17"
    )


def q_t_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return text.add_token_stats(d).select(
        "doc_id", "n_tokens", "n_chars_norm", "bpe_token_est", "avg_token_len"
    )


SQL_T_TOKENS = f"""
WITH n AS (SELECT doc_id, text, {_NORM_SQL} AS nt FROM documents)
SELECT doc_id,
  CAST(len(string_split(nt, ' ')) AS INT) AS n_tokens,
  CAST(length(nt) AS INT) AS n_chars_norm,
  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_token_est,
  round((length(nt) - len(string_split(nt, ' ')) + 1) / CAST(len(string_split(nt, ' ')) AS DOUBLE), 4) AS avg_token_len
FROM n
"""


def q_t_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return text.add_quality_score(d).select(
        "doc_id", "punct_ratio", "stopword_hits", "stopword_ratio",
        F.round("len_score", 6).alias("len_score"), "quality_score",
    )


def _stop_hits_sql() -> str:
    terms = [
        f"CAST((length(nt) - length(regexp_replace(nt, '\\b{w}\\b', '', 'g'))) / {len(w)} AS BIGINT)"
        for w in text.STOPWORDS
    ]
    return " + ".join(terms)


SQL_T_QUALITY = f"""
WITH n AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
s AS (
  SELECT doc_id, nt,
    length(regexp_replace(nt, '[^.,;:!?]', '', 'g')) AS punct,
    len(string_split(nt, ' ')) AS n_tok,
    {_stop_hits_sql()} AS stop_hits
  FROM n
),
r AS (
  SELECT doc_id,
    round(punct / CAST(greatest(length(nt), 1) AS DOUBLE), 6) AS punct_ratio,
    stop_hits AS stopword_hits,
    round(stop_hits / CAST(greatest(n_tok, 1) AS DOUBLE), 6) AS stopword_ratio,
    least(length(nt) / 500.0, 1.0) AS len_score
  FROM s
)
SELECT doc_id, punct_ratio, stopword_hits, stopword_ratio,
  round(len_score, 6) AS len_score,
  round(0.5 * len_score + 0.5 * least(stopword_ratio * 5.0, 1.0) + 1e-9, 6) AS quality_score
FROM r
"""


def q_t_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return text.add_lang_id(d).select("doc_id", "lang", "lang_pred", "lang_evidence")


SQL_T_LANG = f"""
WITH n AS (SELECT doc_id, lang, {_NORM_SQL} AS nt FROM documents),
e AS (
  SELECT doc_id, lang,
    ((length(nt) - length(regexp_replace(nt, '\\bthe\\b', '', 'g'))) / 3
   + (length(nt) - length(regexp_replace(nt, '\\band\\b', '', 'g'))) / 3)
    / CAST(greatest(len(string_split(nt, ' ')), 1) AS DOUBLE) AS evidence
  FROM n
)
SELECT doc_id, lang,
  CASE WHEN evidence > 0.02 THEN 'en' ELSE 'other' END AS lang_pred,
  round(evidence, 6) AS lang_evidence
FROM e
"""


def q_t_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Line-level corpus dedup (text.line_dedup — the CCNet/RefinedWeb
    boilerplate rule): wrap every document in a shared header/footer (the
    nav-bar/cookie-banner scenario), then drop lines whose normalized form
    appears in more than 2 distinct documents. The boilerplate vanishes,
    each unique body line survives, and reassembly preserves order —
    all value-checked by the oracle's replay."""
    d = _docs(spark, sf)
    boilered = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("DAILY MARKET BULLETIN"),
            F.col("text"),
            F.lit("Unsubscribe: example.com/optout"),
        ).alias("text"),
    )
    return text.line_dedup(boilered, max_doc_freq=2)


SQL_T_LINE_DEDUP = """
WITH d AS (
  SELECT doc_id,
         'DAILY MARKET BULLETIN' || chr(10) || text || chr(10) ||
         'Unsubscribe: example.com/optout' AS t
  FROM documents
),
ls AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM d),
l0 AS (
  SELECT doc_id, CAST(generate_subscripts(lines, 1) - 1 AS INT) AS pos,
         unnest(lines) AS line
  FROM ls
),
l AS (
  SELECT doc_id, pos, line,
         md5(trim(regexp_replace(lower(line), '[\\s\\v]+', ' ', 'g'))) AS line_key
  FROM l0
),
hot AS (
  SELECT line_key FROM l GROUP BY line_key HAVING count(DISTINCT doc_id) > 2
),
kept AS (SELECT * FROM l WHERE line_key NOT IN (SELECT line_key FROM hot)),
totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total FROM l GROUP BY doc_id),
rebuilt AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_lines_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       coalesce(r.n_lines_kept, 0) AS n_lines_kept,
       CAST(t.n_total - coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_dropped
FROM d LEFT JOIN rebuilt r USING (doc_id) LEFT JOIN totals t USING (doc_id)
"""


def q_t_domain_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain URL rollup (text.domain_stats — the domain-granularity
    filter web curation runs before doc filters). Testdata text carries no
    URLs, so each doc gets two deterministic ones appended (a per-doc
    source domain and a shared CDN) — extraction, explode, and the
    distinct-doc/total-url distinction are all value-checked."""
    d = _docs(spark, sf)
    with_urls = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" https://src-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/doc srcref http://cdn.example.net/asset"),
        ).alias("text"),
    )
    return text.domain_stats(with_urls)


SQL_T_DOMAINS = """
WITH w AS (
  SELECT doc_id,
         text || ' https://src-' || CAST(doc_id % 7 AS VARCHAR)
              || '.example.com/doc srcref http://cdn.example.net/asset' AS t
  FROM documents
),
u AS (
  SELECT doc_id,
         unnest(regexp_extract_all(t, 'https?://([^/\\s]+)', 1)) AS domain
  FROM w
)
SELECT domain, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_urls
FROM u GROUP BY domain
"""


def q_t_structural_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Structural Gopher quality rules (text.add_structural_rules): alpha-
    word fraction, mean word length, bullet/ellipsis line fractions,
    symbol density. Testdata docs are single-line prose, so deterministic
    structure is appended (a bullet line for doc_id%3==0, an ellipsis
    line for doc_id%4==0) — every fraction is value-checked."""
    d = _docs(spark, sf)
    structured = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\n- bullet item here")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 4 == 0, F.lit("\nto be continued...")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return text.add_structural_rules(structured).select(
        "doc_id", "alpha_word_frac", "mean_word_len",
        "bullet_line_frac", "ellipsis_line_frac", "symbol_frac",
    )


SQL_T_STRUCTURAL = """
WITH w AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- bullet item here' ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'to be continued...' ELSE '' END AS t
  FROM documents
),
n AS (
  SELECT doc_id, t,
         string_split(trim(regexp_replace(lower(t), '[\\s\\v]+', ' ', 'g')), ' ') AS toks,
         string_split(t, chr(10)) AS lines
  FROM w
)
SELECT doc_id,
  round(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
        / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS alpha_word_frac,
  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        / greatest(len(toks), 1), 6) AS mean_word_len,
  round(len(list_filter(lines, l -> regexp_matches(trim(l), '^([-*•])')))
        / CAST(greatest(len(lines), 1) AS DOUBLE), 6) AS bullet_line_frac,
  round(len(list_filter(lines, l -> regexp_matches(regexp_replace(trim(l), '\\r$', ''), '(\\.\\.\\.|…)$')))
        / CAST(greatest(len(lines), 1) AS DOUBLE), 6) AS ellipsis_line_frac,
  round(length(regexp_replace(t, '[^#…]', '', 'g'))
        / CAST(greatest(length(t), 1) AS DOUBLE), 6) AS symbol_frac
FROM n
"""


def q_t_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return text.add_fingerprint(d).select("doc_id", "fingerprint", "fingerprint16")


SQL_T_FP = f"""
WITH n AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents)
SELECT doc_id, md5(nt) AS fingerprint, substring(md5(nt), 1, 16) AS fingerprint16
FROM n
"""


# ---------------------------------------------------------------------------
# queries — deduplication (north-star)
# ---------------------------------------------------------------------------


def q_d_exact_dups(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return dedup.exact_duplicates(d)


SQL_D_EXACT = f"""
WITH n AS (SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS keep_id
FROM n GROUP BY fingerprint HAVING count(*) > 1
"""


def q_d_dedup_keep_first(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return dedup.dedup_exact_keep_first(d)


SQL_D_KEEP_FIRST = f"""
WITH n AS (SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents)
SELECT min(doc_id) AS doc_id, fingerprint FROM n GROUP BY fingerprint
"""

# shared shingle CTE (3-gram word shingles over normalized text)
_SHINGLE_SQL = f"""
norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks
)
""".strip()


def q_t_top_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary stats: 20 most frequent bigrams (every occurrence
    counted; deterministic count-then-lexicographic tiebreak)."""
    return text.top_ngrams(_docs(spark, sf), n=2, k=20)


SQL_T_NGRAMS = f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
ng AS (
  SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                i -> array_to_string(t[i:i+1], ' '))) AS ngram
  FROM toks
)
SELECT ngram, count(*) AS n FROM ng GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20
"""


def q_t_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation extraction (text.pmi_collocations): top-30 adjacent word
    pairs by pointwise mutual information with a ≥5 occurrence floor —
    corpus-statistics ranking of which bigrams are 'real phrases' vs
    chance co-occurrence. Counts are exact; the PMI double math is
    order-pinned so the oracle matches to the bit before the 6 dp round."""
    return text.pmi_collocations(_docs(spark, sf), min_count=5, k=30)


SQL_T_PMI = f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
idx AS (SELECT t, unnest(range(1, greatest(len(t), 1))) AS i FROM toks),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS n_pair
  FROM idx GROUP BY 1, 2
),
uw AS (SELECT unnest(t) AS w FROM toks),
uni AS (SELECT w, count(*) AS c_w FROM uw GROUP BY 1),
tot AS (
  SELECT (SELECT CAST(sum(c_w) AS BIGINT) FROM uni) AS nu,
         (SELECT CAST(sum(n_pair) AS BIGINT) FROM bi) AS nb
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
       round(ln(((CAST(n_pair AS DOUBLE) * CAST(nu AS DOUBLE)) * CAST(nu AS DOUBLE))
                / ((CAST(nb AS DOUBLE) * CAST(u1.c_w AS DOUBLE)) * CAST(u2.c_w AS DOUBLE)))
             + 1e-9, 6) AS pmi
FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w CROSS JOIN tot
WHERE n_pair >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 30
"""


def q_t_textrank(spark: SparkSession, sf: str) -> DataFrame:
    """TextRank keywords (text.textrank_keywords): PageRank over the
    corpus word-adjacency graph, top 25 — the graph-centrality complement
    to frequency (top_ngrams) and discrimination (tfidf). Rides
    graph.pagerank's quantized loop, so the chained-CTE oracle is exact."""
    return text.textrank_keywords(_docs(spark, sf), k=25, iterations=10)


def _textrank_sql(iterations: int = 10, k: int = 25) -> str:
    sw = ", ".join(f"'{s}'" for s in text.STOPWORDS)
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""r{i} AS (
  SELECT sym.d AS node,
         round(0.15 / (SELECT cnt FROM n) + 0.85 * sum(r.pr / dg.deg) + 1e-13, 10) AS pr
  FROM sym JOIN {prev} r ON sym.s = r.node JOIN deg dg ON sym.s = dg.s
  GROUP BY sym.d)"""
        )
        prev = f"r{i}"
    return f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
idx AS (SELECT t, unnest(range(1, greatest(len(t), 1))) AS i FROM toks),
bi AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM idx),
e AS (
  SELECT DISTINCT least(w1, w2) AS src, greatest(w1, w2) AS dst
  FROM bi
  WHERE w1 <> w2 AND w1 <> '' AND w2 <> ''
    AND w1 NOT IN ({sw}) AND w2 NOT IN ({sw})
),
sym AS (SELECT src AS s, dst AS d FROM e UNION ALL SELECT dst AS s, src AS d FROM e),
deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY s),
n AS (SELECT count(*) AS cnt FROM deg),
r0 AS (SELECT s AS node, round(1.0 / (SELECT cnt FROM n) + 1e-13, 10) AS pr FROM deg),
{','.join(steps)}
SELECT node AS word, pr FROM {prev} ORDER BY pr DESC, node LIMIT {k}
"""


def q_d_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return dedup.minhash_lsh_pairs(d, num_hashes=12, bands=4)


def _minhash_sig_sql(num_hashes: int = 12) -> str:
    cols = ", ".join(
        f"min(md5('{k}|' || shingle)) AS mh_{k}" for k in range(num_hashes)
    )
    return f"sig AS (SELECT doc_id, {cols} FROM sh GROUP BY doc_id)"


def _band_sql(num_hashes: int = 12, bands: int = 4) -> str:
    rows = num_hashes // bands
    parts = []
    for b in range(bands):
        cols = ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        parts.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS bucket FROM sig"
        )
    return "buckets AS (" + " UNION ALL ".join(parts) + ")"


SQL_D_MINHASH = f"""
WITH {_SHINGLE_SQL},
{_minhash_sig_sql()},
{_band_sql()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def q_d_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """The scale path end-to-end: LSH banding proposes candidates, exact
    n-gram Jaccard verifies only those — never the all-pairs shingle join."""
    d = _docs(spark, sf)
    cand = dedup.minhash_lsh_pairs(d, num_hashes=12, bands=4)
    return dedup.ngram_jaccard_pairs(d, candidates=cand, threshold=0.05)


SQL_D_JACCARD = f"""
WITH {_SHINGLE_SQL},
{_minhash_sig_sql()},
{_band_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT c.* FROM common c
  WHERE EXISTS (SELECT 1 FROM cand WHERE cand.doc_a = c.doc_a AND cand.doc_b = c.doc_b)
)
SELECT doc_a, doc_b, n_common,
  round(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
FROM verified
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.05
"""


def q_d_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    # tight radius: 8/64 bits. The testdata's small shared vocabulary makes
    # simhash collision-heavy by construction; a loose radius explodes the
    # candidate set quadratically (1.9M pairs at sf0.1 with radius 16).
    return dedup.simhash_near_pairs(d, max_hamming=8)


def _simhash_pairs_sql() -> str:
    """Full DuckDB oracle for the native SimHash pair query — the signature
    construction (md5 halves via hex-cast, 64 signed per-instance sums,
    sign-bit fold with HUGEINT-safe wrap) mirrors dedup.simhash_signatures
    literally; the banding (shared 16-bit chunk) and hamming radius mirror
    simhash_near_pairs."""
    accs = ", ".join(
        f"sum(CASE WHEN ({'lo' if i < 32 else 'hi'} >> {i % 32}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS a{i}"
        for i in range(64)
    )
    terms = " + ".join(
        f"CASE WHEN a{i} > 0 THEN {(1 << i) if i < 63 else 'CAST(-9223372036854775808 AS HUGEINT)'} ELSE 0 END"
        for i in range(64)
    )
    chunk_arms = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {c} AS chunk,"
        f" CAST((u // {65536 ** c}) % 65536 AS INT) AS v FROM u"
        for c in range(4)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[\\s\\v]+')) AS tok
  FROM documents
),
h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
         CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo
  FROM toks WHERE tok <> ''
),
acc AS (SELECT doc_id, {accs} FROM h GROUP BY doc_id),
sig0 AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM acc),
sig AS (
  SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
  FROM documents d LEFT JOIN sig0 s USING (doc_id)
),
u AS (
  SELECT doc_id, simhash,
         CAST(simhash AS HUGEINT)
         + CASE WHEN simhash < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS u
  FROM sig
),
chunks AS ({chunk_arms}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM chunks a
  JOIN chunks b ON a.chunk = b.chunk AND a.v = b.v AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 8
"""


def q_d_dup_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs → duplicate GROUPS via distributed connected
    components (hash-min label propagation; dedup.dup_groups). group_id is
    the min doc_id of the component — the "keep one per cluster" key."""
    d = _docs(spark, sf)
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=12, bands=4)
    return dedup.dup_groups(pairs)


# transitive closure as a recursive reachability CTE: min reachable doc_id
# over the symmetric LSH-pair edge set == hash-min fixpoint label.
SQL_D_GROUPS = f"""
WITH RECURSIVE {_SHINGLE_SQL},
{_minhash_sig_sql()},
{_band_sql()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id
"""


def q_d_dedup_near(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup pipeline's end product: corpus with each near-dup cluster
    collapsed to its canonical (min-id) member; unclustered docs pass
    through. LSH pairs → connected components → anti-join the losers."""
    d = _docs(spark, sf)
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=12, bands=4)
    return dedup.dedup_near_keep_one(d, pairs).select("doc_id")


SQL_D_DEDUP_NEAR = (
    SQL_D_GROUPS.replace(
        "SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id",
        """, groups AS (SELECT id AS gdoc, min(r) AS group_id FROM reach GROUP BY id)
SELECT d.doc_id FROM documents d LEFT JOIN groups g ON d.doc_id = g.gdoc
WHERE g.gdoc IS NULL OR g.group_id = d.doc_id""",
    )
)


# ---------------------------------------------------------------------------
# queries — similarity search over embeddings (north-star)
# ---------------------------------------------------------------------------


def q_sim_bruteforce_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(e, q, k=5)


SQL_SIM_BF = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
c AS (SELECT vec_id AS corpus_id, v AS cv FROM e),
scored AS (
  SELECT query_id, corpus_id,
    round(list_dot_product(qv, cv)
          / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0), 6) AS cos_sim
  FROM c, q WHERE query_id <> corpus_id
)
SELECT query_id, corpus_id, cos_sim, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS INT) AS rk
  FROM scored
) WHERE rk <= 5
"""


def _plane_literal_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


def _lsh_bucket_sql(n_planes: int, seed: int = 7, dim: int = 64) -> str:
    from market_data_pipeline_spark.operators.similarity import _hyperplanes

    terms = [
        f"(CASE WHEN list_dot_product(v, {_plane_literal_sql(p)}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_hyperplanes(dim, n_planes, seed))
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def q_sim_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return similarity.ann_topk(e, q, k=5, n_planes=8)


SQL_SIM_ANN = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_lsh_bucket_sql(8)} AS lsh_bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, lsh_bucket FROM b WHERE vec_id < 5),
c AS (SELECT vec_id AS corpus_id, v AS cv, lsh_bucket FROM b),
scored AS (
  SELECT query_id, corpus_id,
    round(list_dot_product(qv, cv)
          / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0), 6) AS cos_sim
  FROM c JOIN q USING (lsh_bucket)
  WHERE query_id <> corpus_id
)
SELECT query_id, corpus_id, cos_sim, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS INT) AS rk
  FROM scored
) WHERE rk <= 5
"""


def q_sim_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return similarity.embedding_near_dups(e, threshold=0.25, n_planes=6)


SQL_SIM_NEAR = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_lsh_bucket_sql(6)} AS lsh_bucket FROM e),
pairs AS (
  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
    round(list_dot_product(a.v, b2.v)
          / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v)), 0), 6) AS cos_sim
  FROM b a JOIN b b2 ON a.lsh_bucket = b2.lsh_bucket AND a.vec_id < b2.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.25
"""


def q_sim_ivf_assign(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return similarity.ivf_assign(e, n_cells=16).select("vec_id", "cell")


def _ivf_sims_sql(n_cells: int = 16, dim: int = 64) -> str:
    from market_data_pipeline_spark.operators.similarity import _hyperplanes

    pivots = _hyperplanes(dim, n_cells, seed=13)
    dots = ", ".join(f"list_dot_product(v, {_plane_literal_sql(p)})" for p in pivots)
    return f"[{dots}]"


SQL_SIM_IVF = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, {_ivf_sims_sql()} AS sims FROM e)
SELECT vec_id, CAST(list_position(sims, list_max(sims)) - 1 AS INTEGER) AS cell FROM s
"""


# ---------------------------------------------------------------------------
# queries — streaming surface (driven to completion on the test files)
# ---------------------------------------------------------------------------


def q_st_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    ev = streaming_jobs.stream_events(spark, sf)
    agg = streaming_jobs.tumbling_window_agg(ev, width="1 hour")
    return streaming_jobs.run_stream_to_memory(spark, agg, "tumbling")


SQL_ST_TUMBLING = """
SELECT date_trunc('hour', ts) AS win_start, event_type,
       count(*) AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
"""


def q_st_sliding(spark: SparkSession, sf: str) -> DataFrame:
    ev = streaming_jobs.stream_events(spark, sf)
    agg = streaming_jobs.sliding_window_agg(ev, width="2 hours", slide="1 hour")
    return streaming_jobs.run_stream_to_memory(spark, agg, "sliding")


SQL_ST_SLIDING = """
WITH wins AS (
  SELECT date_trunc('hour', ts) AS win_start, event_type FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS win_start, event_type FROM events
)
SELECT win_start, event_type, count(*) AS n FROM wins GROUP BY 1, 2
"""


def q_st_session_batch(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return streaming_jobs.session_windows_batch(ev, gap_minutes=30)


SQL_ST_SESSION = """
WITH s AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s2 AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM s
)
SELECT user_id, session_id,
  min(ts) AS session_start, max(ts) AS session_end,
  count(*) AS n_events, round(sum(value), 4) AS session_value
FROM s2 GROUP BY user_id, session_id
"""


def q_st_dedup(spark: SparkSession, sf: str) -> DataFrame:
    ev = streaming_jobs.stream_events(spark, sf)
    out = streaming_jobs.streaming_dedup(ev).select("event_id", "user_id", "ts", "value")
    return streaming_jobs.run_stream_to_memory(spark, out, "st_dedup", output_mode="append")


SQL_ST_DEDUP = """
SELECT event_id, user_id, ts, value FROM (
  SELECT event_id, user_id, ts, value,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# queries — multimodal plumbing (rows-only; decode is a documented stub)
# ---------------------------------------------------------------------------


def q_m_media_features(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import multimodal

    d = _docs(spark, sf)
    media = multimodal.documents_as_media(d)
    return multimodal.extract_media_features(media)


def q_m_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video frame sampling (r2 verdict #3): document bytes → true
    YUV4MPEG2 Cmono stream (16×16 luma frames, stdlib codec) → decode →
    every-10th-frame luma sums. The oracle recomputes each sampled frame's
    byte-range sum from the hex expansion — the parse path is what's
    checked."""
    from market_data_pipeline_spark.operators import multimodal

    d = _docs(spark, sf)
    media = multimodal.documents_as_y4m(d, frame_w=16, frame_h=16)
    return multimodal.frame_sample(media, every_n=10)


SQL_M_FRAMES = f"""
WITH m AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
),
d AS (
  SELECT media_id, hx, nb,
         greatest(1, CAST(ceil(nb / 256.0) AS INT)) AS n_frames
  FROM m
),
spine AS (
  SELECT d.media_id, CAST(r.range AS INT) AS frame_no
  FROM d JOIN range(0, 100000) r ON r.range < d.n_frames AND r.range % 10 = 0
),
-- the range(0, 1e6) spine caps the expansion at 1 MB/doc: a longer doc
-- under-sums the ORACLE side only, so verification fails loudly (never
-- a false pass); testdata docs are ~1 KB
b AS (
  SELECT d.media_id, CAST(g.range // 256 AS INT) AS frame_no,
         {_sql_byte_at('d.hx', 'g.range')} AS byte
  FROM d JOIN range(0, 1000000) g ON g.range < d.nb
),
s AS (SELECT media_id, frame_no, sum(byte) AS y_sum FROM b GROUP BY media_id, frame_no)
SELECT sp.media_id, sp.frame_no, CAST(coalesce(s.y_sum, 0) AS BIGINT) AS y_sum
FROM spine sp LEFT JOIN s USING (media_id, frame_no)
"""


def q_m_audio_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL WAV round trip: document bytes → PCM-16 mono RIFF/WAVE (stdlib
    codec) → decode → sample stats. The oracle recomputes each 16-bit
    little-endian signed sample from the byte pairs in pure SQL."""
    from market_data_pipeline_spark.operators import multimodal

    d = _docs(spark, sf)
    media = multimodal.documents_as_wav(d, sample_rate=16000)
    return multimodal.extract_audio_stats(media)


SQL_M_AUDIO = f"""
WITH m AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
),
-- range cap = 1M samples (2 MB/doc); overflow under-sums the ORACLE side
-- only -> loud verification failure, never a false pass
sm AS (
  SELECT m.media_id,
         {_sql_byte_at('m.hx', '2 * g.range')} AS b0,
         CASE WHEN 2 * g.range + 1 < m.nb THEN
           {_sql_byte_at('m.hx', '2 * g.range + 1')}
         ELSE 0 END AS b1
  FROM m JOIN range(0, 1000000) g ON 2 * g.range < m.nb
),
v AS (
  SELECT media_id,
         b0 + 256 * b1 - CASE WHEN b1 >= 128 THEN 65536 ELSE 0 END AS sample
  FROM sm
),
s AS (
  SELECT media_id, CAST(count(*) AS BIGINT) AS n_samples,
         CAST(sum(sample) AS BIGINT) AS amp_sum
  FROM v GROUP BY media_id
)
SELECT m.media_id, coalesce(s.n_samples, 0) AS n_samples,
       CAST(1 AS INT) AS channels, CAST(16000 AS INT) AS sample_rate,
       coalesce(s.amp_sum, 0) AS amp_sum
FROM m LEFT JOIN s USING (media_id)
"""


_REGISTRY.update(
    {
        # text analysis
        "inv_t_token_stats": (q_t_token_stats, SQL_T_TOKENS),
        "inv_t_top_ngrams": (q_t_top_ngrams, SQL_T_NGRAMS),
        "inv_t_pmi_collocations": (q_t_pmi_collocations, SQL_T_PMI),
        "inv_t_textrank": (q_t_textrank, _textrank_sql()),
        "inv_t_quality_score": (q_t_quality_score, SQL_T_QUALITY),
        "inv_t_lang_id": (q_t_lang_id, SQL_T_LANG),
        "inv_t_fingerprint": (q_t_fingerprint, SQL_T_FP),
        "inv_t_line_dedup": (q_t_line_dedup, SQL_T_LINE_DEDUP),
        "inv_t_domain_stats": (q_t_domain_stats, SQL_T_DOMAINS),
        "inv_t_structural_rules": (q_t_structural_rules, SQL_T_STRUCTURAL),
        # dedup
        "inv_d_exact_dups": (q_d_exact_dups, SQL_D_EXACT),
        "inv_d_dedup_keep_first": (q_d_dedup_keep_first, SQL_D_KEEP_FIRST),
        "inv_d_minhash_lsh": (q_d_minhash_lsh, SQL_D_MINHASH),
        "inv_d_ngram_jaccard": (q_d_ngram_jaccard, SQL_D_JACCARD),
        "inv_d_simhash_pairs": (q_d_simhash_pairs, _simhash_pairs_sql()),
        "inv_d_dup_groups": (q_d_dup_groups, SQL_D_GROUPS),
        "inv_d_dedup_near": (q_d_dedup_near, SQL_D_DEDUP_NEAR),
        # similarity
        "inv_sim_bruteforce_topk": (q_sim_bruteforce_topk, SQL_SIM_BF),
        "inv_sim_ann_topk": (q_sim_ann_topk, SQL_SIM_ANN),
        "inv_sim_near_dups": (q_sim_near_dups, SQL_SIM_NEAR),
        "inv_sim_ivf_assign": (q_sim_ivf_assign, SQL_SIM_IVF),
        # streaming
        "inv_st_tumbling": (q_st_tumbling, SQL_ST_TUMBLING),
        "inv_st_sliding": (q_st_sliding, SQL_ST_SLIDING),
        "inv_st_session_batch": (q_st_session_batch, SQL_ST_SESSION),
        "inv_st_dedup": (q_st_dedup, SQL_ST_DEDUP),
        # multimodal plumbing
        "inv_m_media_features": (q_m_media_features, None),
        "inv_m_frame_sample": (q_m_frame_sample, SQL_M_FRAMES),
        "inv_m_audio_stats": (q_m_audio_stats, SQL_M_AUDIO),
    }
)


# ---------------------------------------------------------------------------
# queries — coverage round 2: J1, as-of join, anomaly/correlation extensions,
# W20 summary, A3/A14 counts, O3/O6/O9 top-k + sorts, P9/P12 universe filters,
# S7 sorted scan
# ---------------------------------------------------------------------------


def q_j1_time_join(spark: SparkSession, sf: str) -> DataFrame:
    """J1 — inner equi-join of two symbols' closes on date
    (breadth_analyzer.py:104-109)."""
    b = _bars(spark, sf)
    a = b.filter(F.col("symbol") == 1).select("d", F.col("close").alias("close_1"))
    c = b.filter(F.col("symbol") == 2).select("d", F.col("close").alias("close_2"))
    return a.join(c, "d", "inner").select(
        "d", F.round("close_1", 4).alias("close_1"), F.round("close_2", 4).alias("close_2")
    )


SQL_J1 = f"""
WITH {BARS_SQL}
SELECT a.d, round(a.close, 4) AS close_1, round(b.close, 4) AS close_2
FROM bars a JOIN bars b ON a.d = b.d
WHERE a.symbol = 1 AND b.symbol = 2
"""


def q_asof_join_bars(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join extension: each tick gains the latest daily bar close
    at-or-before its timestamp (union + per-key window ffill — no range join)."""
    from market_data_pipeline_spark.operators import asof

    s = _series(spark, sf).drop("event_id")
    b = _bars(spark, sf).select(
        "symbol", F.col("d").cast("timestamp").alias("bar_ts"), F.col("d").alias("bar_d"), F.col("close").alias("bar_close")
    )
    out = asof.asof_join(s, b, key="symbol", left_time="time", right_time="bar_ts", payload=["bar_d", "bar_close"])
    return out.select(
        "symbol", "time",
        F.round("close", 4).alias("close"),
        "bar_d",
        F.round("bar_close", 4).alias("bar_close"),
    )


SQL_ASOF = f"""
WITH {BARS_SQL},
ev AS (
  SELECT user_id AS symbol, ts AS time, value AS close FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
marks AS (SELECT symbol, CAST(d AS TIMESTAMP) AS bar_ts, d AS bar_d, close AS bar_close FROM bars)
SELECT e.symbol, e.time, round(e.close, 4) AS close, m.bar_d, round(m.bar_close, 4) AS bar_close
FROM ev e ASOF LEFT JOIN marks m ON e.symbol = m.symbol AND e.time >= m.bar_ts
"""


def q_asof_forward_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join, forward direction with a staleness bound: each tick gains
    the NEXT daily bar at-or-after its timestamp, but only within 2 days
    (merge_asof(direction='forward', tolerance=...) parity)."""
    from market_data_pipeline_spark.operators import asof

    s = _series(spark, sf).drop("event_id")
    b = _bars(spark, sf).select(
        "symbol", F.col("d").cast("timestamp").alias("bar_ts"), F.col("d").alias("bar_d"), F.col("close").alias("bar_close")
    )
    out = asof.asof_join(
        s, b, key="symbol", left_time="time", right_time="bar_ts",
        payload=["bar_d", "bar_close"], direction="forward", tolerance_seconds=172800,
    )
    return out.select(
        "symbol", "time",
        F.round("close", 4).alias("close"),
        "bar_d",
        F.round("bar_close", 4).alias("bar_close"),
    )


# no ASOF-forward in DuckDB ASOF JOIN — the oracle is a LATERAL next-match
SQL_ASOF_FWD = f"""
WITH {BARS_SQL},
ev AS (
  SELECT user_id AS symbol, ts AS time, value AS close FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
marks AS (SELECT symbol, CAST(d AS TIMESTAMP) AS bar_ts, d AS bar_d, close AS bar_close FROM bars)
SELECT e.symbol, e.time, round(e.close, 4) AS close, m.bar_d, round(m.bar_close, 4) AS bar_close
FROM ev e LEFT JOIN LATERAL (
  SELECT bar_d, bar_close FROM marks m
  WHERE m.symbol = e.symbol AND m.bar_ts >= e.time
    AND epoch(m.bar_ts) - epoch(e.time) <= 172800
  ORDER BY m.bar_ts LIMIT 1
) m ON TRUE
"""


def q_x_anomaly_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Anomaly-detector extension surface (reference placeholder
    src/analyzers/anomaly_detector.py): rolling z-score outliers."""
    from market_data_pipeline_spark.operators import anomaly

    b = _bars(spark, sf)
    w = series_window(time_col="d")
    return anomaly.zscore_anomalies(b, col="close", window=20, threshold=2.5, w=w).select(
        "symbol", "d", F.round("close", 4).alias("close"), "zscore"
    )


SQL_ANOMALY = f"""
WITH {BARS_SQL},
z AS (
  SELECT symbol, d, close,
    CASE WHEN count(close) OVER w >= 20
         THEN round((close - avg(close) OVER w) / nullif(stddev_samp(close) OVER w, 0), 4)
    END AS zscore
  FROM bars
  WINDOW w AS ({_WIND} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, d, round(close, 4) AS close, zscore FROM z WHERE abs(zscore) > 2.5
"""


def q_x_corr_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Correlation-analyzer extension surface (reference placeholder
    src/analyzers/correlation_analyzer.py): pairwise return correlations of
    the 10 most-traded symbols."""
    return breadth.correlation_matrix(_bars(spark, sf), top_n=10)


SQL_CORR_MATRIX = f"""
WITH {BARS_SQL},
top AS (
  SELECT symbol FROM (
    SELECT symbol, sum(volume) AS v FROM bars GROUP BY symbol
  ) ORDER BY v DESC, symbol LIMIT 10
),
rets AS (
  SELECT symbol, d, close / nullif(lag(close) OVER ({_WIND}), 0) - 1 AS ret
  FROM bars WHERE symbol IN (SELECT symbol FROM top)
),
r AS (SELECT * FROM rets WHERE ret IS NOT NULL)
SELECT a.symbol AS sym_a, b.symbol AS sym_b,
  round(corr(a.ret, b.ret), 4) AS corr, count(*) AS n_days
FROM r a JOIN r b ON a.d = b.d AND a.symbol < b.symbol
GROUP BY 1, 2
"""


def q_w20_market_summary(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    return breadth.market_summary(b, breadth.derive_breadth(b))


SQL_W20 = f"""
WITH {BARS_SQL},
delta AS (
  SELECT symbol, d, close - lag(close) OVER ({_WIND}) AS dl, close
  FROM bars
),
bagg AS (
  SELECT d,
    CAST(sum(CASE WHEN dl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS advancers,
    CAST(sum(CASE WHEN dl < 0 THEN 1 ELSE 0 END) AS BIGINT) AS decliners,
    CAST(sum(CASE WHEN dl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
  FROM delta GROUP BY d
),
bp AS (
  SELECT d,
    least(greatest((advancers - decliners) * 100.0 / nullif(advancers + decliners + unchanged, 0), -100.0), 100.0) AS breadth_percent
  FROM bagg
),
lb AS (
  SELECT d, round(breadth_percent, 4) AS breadth_percent,
    round(least(greatest(50.0 + (breadth_percent - 50.0) / 2.0, 0.0), 100.0), 4) AS sentiment
  FROM bp WHERE breadth_percent IS NOT NULL
  ORDER BY d DESC LIMIT 1
),
ma AS (
  SELECT symbol, d, close,
    CASE WHEN count(close) OVER w20 >= 20 THEN avg(close) OVER w20 END AS ma20,
    CASE WHEN count(close) OVER w50 >= 50 THEN avg(close) OVER w50 END AS ma50,
    row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rn
  FROM bars
  WINDOW w20 AS ({_WIND} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         w50 AS ({_WIND} ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
),
counts AS (
  SELECT count(*) AS total_symbols,
    CAST(sum(CASE WHEN close > ma20 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_ma20,
    CAST(sum(CASE WHEN close > ma50 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_ma50
  FROM ma WHERE rn = 1
)
SELECT lb.d, lb.breadth_percent, lb.sentiment,
       counts.total_symbols, counts.n_above_ma20, counts.n_above_ma50
FROM lb CROSS JOIN counts
"""


def q_a3_signal_counts(spark: SparkSession, sf: str) -> DataFrame:
    """A3 — recommendation counts (report_generator.py:307-313) over the
    latest RSI signal label per symbol."""
    b = _bars(spark, sf)
    w = series_window(time_col="d")
    df = indicators.add_rsi(b, period=14, w=w)
    latest = screeners.last_row_per_symbol(df, time_col="d")
    return latest.groupBy("rsi_signal").agg(F.count(F.lit(1)).alias("n_symbols"))


SQL_A3 = f"""
WITH {BARS_SQL},
delta AS (
  SELECT symbol, d,
    close - lag(close) OVER ({_WIND}) AS dl
  FROM bars
),
g AS (
  SELECT symbol, d,
    CASE WHEN dl IS NOT NULL THEN greatest(dl, 0.0) END AS gain,
    CASE WHEN dl IS NOT NULL THEN greatest(-dl, 0.0) END AS loss,
    dl
  FROM delta
),
r AS (
  SELECT symbol, d,
    CASE WHEN count(dl) OVER w >= 14 THEN avg(gain) OVER w END AS ag,
    CASE WHEN count(dl) OVER w >= 14 THEN avg(loss) OVER w END AS al,
    row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rn
  FROM g
  WINDOW w AS ({_WIND} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT symbol,
    100.0 - 100.0 / (1.0 + ag / nullif(al, 0)) AS rsi
  FROM r WHERE rn = 1
)
SELECT CASE WHEN rsi > 70 THEN 'overbought'
            WHEN rsi < 30 THEN 'oversold'
            ELSE 'neutral' END AS rsi_signal,
  count(*) AS n_symbols
FROM s GROUP BY 1
"""


def q_a14_run_summary(spark: SparkSession, sf: str) -> DataFrame:
    """A14/A4 — run-summary counts (pipeline.py:259-275): status ↦ count +
    share, on the orders control column."""
    o = load_table(spark, sf, "orders")
    total = Window.partitionBy()
    return (
        o.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("pct", F.round(F.col("n") * 100.0 / F.sum("n").over(total), 4))
    )


SQL_A14 = """
SELECT o_orderstatus, count(*) AS n,
  round(count(*) * 100.0 / sum(count(*)) OVER (), 4) AS pct
FROM orders GROUP BY o_orderstatus
"""


def q_o3_leading_sectors(spark: SparkSession, sf: str) -> DataFrame:
    """O3 — leading sectors: top-10 nation groups by revenue, desc
    (breadth_extractor.py:218, breadth_analyzer.py:89-90)."""
    rev = relational.revenue_by_nation(spark, sf)
    return rev.orderBy(F.col("revenue").desc(), F.col("n_name")).limit(10)


SQL_O3 = """
WITH rev AS (
  SELECT r_name, n_name,
    round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
    count(*) AS n_items
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT * FROM rev ORDER BY revenue DESC, n_name LIMIT 10
"""


def q_o6_weekly_topbottom(spark: SparkSession, sf: str) -> DataFrame:
    """O6 — weekly top/bottom-5 by return with None-last ordering
    (report_generator.py:264-269)."""
    b = _bars(spark, sf)
    w = Window.partitionBy("symbol").orderBy(F.col("d").desc())
    tail = b.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= 5)
    wk = tail.groupBy("symbol").agg(
        F.round(safe_div(F.max_by("close", "d"), F.min_by("close", "d")) - 1, 6).alias("weekly_return")
    )
    top_w = Window.orderBy(F.col("weekly_return").desc_nulls_last(), F.col("symbol"))
    bot_w = Window.orderBy(F.col("weekly_return").asc_nulls_last(), F.col("symbol"))
    return (
        wk.withColumn("top_rank", F.row_number().over(top_w))
        .withColumn("bot_rank", F.row_number().over(bot_w))
        .filter((F.col("top_rank") <= 5) | (F.col("bot_rank") <= 5))
        .withColumn("side", F.when(F.col("top_rank") <= 5, "top").otherwise("bottom"))
        .select("symbol", "weekly_return", "side")
    )


SQL_O6 = f"""
WITH {BARS_SQL},
tail AS (
  SELECT * FROM (
    SELECT bars.*, row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rn FROM bars
  ) WHERE rn <= 5
),
wk AS (
  SELECT symbol,
    round(arg_max(close, d) / nullif(arg_min(close, d), 0) - 1, 6) AS weekly_return
  FROM tail GROUP BY symbol
),
ranked AS (
  SELECT symbol, weekly_return,
    row_number() OVER (ORDER BY weekly_return DESC NULLS LAST, symbol) AS top_rank,
    row_number() OVER (ORDER BY weekly_return ASC NULLS LAST, symbol) AS bot_rank
  FROM wk
)
SELECT symbol, weekly_return,
  CASE WHEN top_rank <= 5 THEN 'top' ELSE 'bottom' END AS side
FROM ranked WHERE top_rank <= 5 OR bot_rank <= 5
"""


def q_s7_recent_events(spark: SparkSession, sf: str) -> DataFrame:
    """S7/O2/O8 — sorted-desc scan with a cap (dividends pattern:
    fundamental_extractor.py:328-343)."""
    e = load_table(spark, sf, "events")
    return (
        e.orderBy(F.col("ts").desc(), F.col("event_id"))
        .limit(100)
        .select("event_id", "ts", "user_id", "event_type", F.round("value", 4).alias("value"))
    )


SQL_S7 = """
SELECT event_id, ts, user_id, event_type, round(value, 4) AS value
FROM events ORDER BY ts DESC, event_id LIMIT 100
"""


# synthesized listing dimension for the universe filters (customer plays the
# listing; exchange/status derived deterministically from the key)
def _listing(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    exchange = (
        F.when(F.col("c_custkey") % 3 == 0, "HSX")
        .when(F.col("c_custkey") % 3 == 1, "HNX")
        .otherwise("UPCOM")
    )
    status = (
        F.when(F.col("c_custkey") % 7 == 0, "Delisted")
        .when(F.col("c_custkey") % 7 == 1, "Suspended trading")
        .when(F.col("c_custkey") % 7 == 2, F.lit(None).cast("string"))
        .otherwise("Active")
    )
    return c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("symbol"),
        exchange.alias("exchange"),
        status.alias("status"),
        F.col("c_acctbal").alias("avg_value"),
    )


_LISTING_SQL = """
listing AS (
  SELECT c_custkey AS id, c_name AS symbol,
    CASE WHEN c_custkey % 3 = 0 THEN 'HSX'
         WHEN c_custkey % 3 = 1 THEN 'HNX'
         ELSE 'UPCOM' END AS exchange,
    CASE WHEN c_custkey % 7 = 0 THEN 'Delisted'
         WHEN c_custkey % 7 = 1 THEN 'Suspended trading'
         WHEN c_custkey % 7 = 2 THEN NULL
         ELSE 'Active' END AS status,
    c_acctbal AS avg_value
  FROM customer
)
""".strip()


def q_p9_scope_filter(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import universe

    return universe.scope_filter(_listing(spark, sf), scope="hsx_hnx").select(
        "id", "symbol", "exchange"
    )


SQL_P9 = f"""
WITH {_LISTING_SQL}
SELECT id, symbol, exchange FROM listing WHERE exchange IN ('HSX', 'HNX')
"""


def q_p12_inactive_filter(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import universe

    return universe.drop_inactive(_listing(spark, sf)).select("id", "symbol", "status")


SQL_P12 = f"""
WITH {_LISTING_SQL}
SELECT id, symbol, status FROM listing
WHERE status IS NULL
   OR NOT regexp_matches(lower(status), 'delist|inactive|suspended|halt|stop')
"""


def q_o9_distinct_symbols(spark: SparkSession, sf: str) -> DataFrame:
    """O9/U4 — alphabetical distinct universe (market_scanner.py:79)."""
    d = _docs(spark, sf)
    return (
        d.select(F.upper(F.trim(F.col("source"))).alias("symbol"))
        .distinct()
        .orderBy("symbol")
    )


SQL_O9 = """
SELECT DISTINCT upper(trim(source)) AS symbol FROM documents ORDER BY symbol
"""


def q_st_session_stream(spark: SparkSession, sf: str) -> DataFrame:
    """True streaming session windows (native session_window + watermark);
    same session boundaries as the batch gaps-and-islands twin."""
    ev = streaming_jobs.stream_events(spark, sf)
    agg = streaming_jobs.session_window_stream(ev, gap="30 minutes")
    return streaming_jobs.run_stream_to_memory(spark, agg, "session_stream")


SQL_ST_SESSION_STREAM = """
WITH s AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s2 AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM s
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM s2 GROUP BY user_id, sid
"""


def q_st_stateful_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator: applyInPandasWithState running totals; the
    final emission per key equals the batch aggregate."""
    from market_data_pipeline_spark.streaming import stateful

    ev = streaming_jobs.stream_events(spark, sf)
    out = streaming_jobs.run_stream_to_memory(
        spark, stateful.running_totals(ev), "stateful_totals", output_mode="update"
    )
    # cumulative count strictly increases per emission: the max-n row is final
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )


SQL_ST_STATEFUL = """
SELECT user_id,
  count(value) AS n_events,
  round(sum(value), 4) AS total_value
FROM events GROUP BY user_id
"""


def q_st_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming CUSUM drift monitor (stateful.streaming_cusum): per-user
    alarm counts on standardized event values, baseline mean/std arriving
    by stream-static broadcast join — the final stateful emission equals
    the batch recursion, which is what the recursive-CTE oracle replays."""
    from market_data_pipeline_spark.streaming import stateful

    ev = load_table(spark, sf, "events")
    baseline = (
        ev.groupBy("user_id")
        .agg(
            F.round(F.avg("value") + F.lit(1e-9), 6).alias("mean"),
            F.round(F.stddev_samp("value") + F.lit(1e-9), 6).alias("std"),
        )
        .filter(F.col("std") > 0)
    )
    stream = streaming_jobs.stream_events(spark, sf).join(
        F.broadcast(baseline), "user_id"
    )
    out = streaming_jobs.run_stream_to_memory(
        spark, stateful.streaming_cusum(stream), "st_cusum", output_mode="update"
    )
    # n_obs strictly increases per emission: the max-n row is final
    return out.groupBy("user_id").agg(
        F.max("n_obs").alias("n_obs"),
        F.max_by("alarms_up", "n_obs").alias("alarms_up"),
        F.max_by("alarms_down", "n_obs").alias("alarms_down"),
    )


def _st_cusum_sql(k: float = 0.5, h: float = 4.0) -> str:
    z = "((s.value - m.mean) / m.std)"
    zsp = f"round(greatest(CAST(0 AS DOUBLE), (r.sp + {z}) - {k!r}) + 1e-13, 10)"
    zsn = f"round(greatest(CAST(0 AS DOUBLE), (r.sn - {z}) - {k!r}) + 1e-13, 10)"
    return f"""
WITH RECURSIVE m AS (
  SELECT user_id, round(avg(value) + 1e-9, 6) AS mean,
         round(stddev_samp(value) + 1e-9, 6) AS std,
         count(value) AS n
  FROM events GROUP BY user_id
  HAVING round(stddev_samp(value) + 1e-9, 6) > 0
),
numbered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
),
rec AS (
  SELECT user_id, 0 AS t, CAST(0 AS DOUBLE) AS sp, CAST(0 AS DOUBLE) AS sn,
         0 AS up, 0 AS dn
  FROM m
  UNION ALL
  SELECT r.user_id, r.t + 1,
         CASE WHEN {zsp} > {h!r} THEN CAST(0 AS DOUBLE) ELSE {zsp} END,
         CASE WHEN {zsn} > {h!r} THEN CAST(0 AS DOUBLE) ELSE {zsn} END,
         r.up + CASE WHEN {zsp} > {h!r} THEN 1 ELSE 0 END,
         r.dn + CASE WHEN {zsn} > {h!r} THEN 1 ELSE 0 END
  FROM rec r
  JOIN numbered s ON s.user_id = r.user_id AND s.rn = r.t + 1
  JOIN m ON m.user_id = r.user_id
)
SELECT r.user_id, CAST(m.n AS BIGINT) AS n_obs,
       CAST(r.up AS BIGINT) AS alarms_up, CAST(r.dn AS BIGINT) AS alarms_down
FROM rec r JOIN m ON r.user_id = m.user_id AND r.t = m.n
"""


_REGISTRY.update({"inv_st_cusum": (q_st_cusum, _st_cusum_sql())})


def q_p14_signal_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """P14 — signal-bucket filters over a MapType breakdown column
    (report_generator.py:73-79): the filters genuinely read map elements."""
    b = _bars(spark, sf)
    w = series_window(time_col="d")
    df = indicators.add_sma(b, periods=(10, 20), w=w)
    df = indicators.add_rsi(df, period=14, w=w)
    df = indicators.add_volume_metrics(df, w=w)
    df = df.withColumn("__prev_close", F.lag("close", 1).over(w)).withColumn(
        "__prev_ma20", F.lag("ma_20", 1).over(w)
    )
    latest = screeners.last_row_per_symbol(df, time_col="d")
    rsi_score = F.when(F.col("rsi") < 30, 2).when(F.col("rsi") > 70, -2).otherwise(0)
    ma_score = F.when(
        (F.col("close") > F.col("ma_20")) & (F.col("__prev_close") <= F.col("__prev_ma20")), 2
    ).otherwise(0)
    vol_score = F.when(F.col("volume") > F.col("vol_sma_20"), 1).otherwise(0)
    sig = latest.withColumn(
        "breakdown",
        F.create_map(
            F.lit("rsi"), rsi_score,
            F.lit("ma_breakout"), ma_score,
            F.lit("volume"), vol_score,
        ),
    )
    return sig.select(
        "symbol",
        "d",
        (
            (F.col("breakdown")["ma_breakout"] == 2) & (F.col("breakdown")["volume"] >= 1)
        ).alias("is_breakout"),
        (F.col("breakdown")["rsi"] == 2).alias("is_oversold"),
        (F.col("breakdown")["rsi"] == -2).alias("is_overbought"),
    )


SQL_P14 = f"""
WITH {BARS_SQL},
m0 AS (
  SELECT symbol, d, close, volume,
    CASE WHEN count(close) OVER w20 >= 20 THEN avg(close) OVER w20 END AS ma_20,
    CASE WHEN count(volume) OVER w20 >= 20 THEN avg(volume) OVER w20 END AS vol_sma_20,
    close - lag(close) OVER ({_WIND}) AS dl,
    lag(close) OVER ({_WIND}) AS prev_close
  FROM bars
  WINDOW w20 AS ({_WIND} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
m AS (
  SELECT *, lag(ma_20) OVER ({_WIND}) AS prev_ma20 FROM m0
),
g AS (
  SELECT *,
    CASE WHEN dl IS NOT NULL THEN greatest(dl, 0.0) END AS gain,
    CASE WHEN dl IS NOT NULL THEN greatest(-dl, 0.0) END AS loss
  FROM m
),
r AS (
  SELECT *,
    CASE WHEN count(dl) OVER w14 >= 14 THEN avg(gain) OVER w14 END AS ag,
    CASE WHEN count(dl) OVER w14 >= 14 THEN avg(loss) OVER w14 END AS al,
    row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rn
  FROM g
  WINDOW w14 AS ({_WIND} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT symbol, d, close, volume, ma_20, vol_sma_20, prev_close, prev_ma20,
    100.0 - 100.0 / (1.0 + ag / nullif(al, 0)) AS rsi
  FROM r WHERE rn = 1
),
sc AS (
  SELECT symbol, d,
    CASE WHEN rsi < 30 THEN 2 WHEN rsi > 70 THEN -2 ELSE 0 END AS rsi_score,
    CASE WHEN close > ma_20 AND prev_close <= prev_ma20 THEN 2 ELSE 0 END AS ma_score,
    CASE WHEN volume > vol_sma_20 THEN 1 ELSE 0 END AS vol_score
  FROM s
)
SELECT symbol, d,
  (ma_score = 2 AND vol_score >= 1) AS is_breakout,
  (rsi_score = 2) AS is_oversold,
  (rsi_score = -2) AS is_overbought
FROM sc
"""


def q_p15_alias_coalesce(spark: SparkSession, sf: str) -> DataFrame:
    """P15 — alias-coalesce projection across schema variants
    (breadth_extractor.py:151-152, 208-216): two alternative columns, first
    non-null wins."""
    o = load_table(spark, sf, "orders")
    variant = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderdate")).alias("date"),
        F.when(F.col("o_orderkey") % 2 == 1, F.col("o_orderdate")).alias("day"),
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_orderpriority")).alias("sector"),
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_orderpriority")).alias("industry"),
    )
    return variant.select(
        "o_orderkey",
        F.coalesce(F.col("date"), F.col("day")).alias("date"),
        F.coalesce(F.col("sector"), F.col("industry")).alias("sector"),
    )


SQL_P15 = """
WITH v AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 2 = 0 THEN o_orderdate END AS date_a,
    CASE WHEN o_orderkey % 2 = 1 THEN o_orderdate END AS day_b,
    CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority END AS sector_a,
    CASE WHEN o_orderkey % 3 <> 0 THEN o_orderpriority END AS industry_b
  FROM orders
)
SELECT o_orderkey, coalesce(date_a, day_b) AS date, coalesce(sector_a, industry_b) AS sector
FROM v
"""


def q_u3_distinct_first(spark: SparkSession, sf: str) -> DataFrame:
    """U3 — distinct preserving first occurrence in ingest order
    (market_scope_filter.py:139, data_validator.py:29-59): the stable-order
    tiebreak is the explicit event_id, not arbitrary dropDuplicates."""
    s = _series(spark, sf)
    w = Window.partitionBy("symbol").orderBy("event_id")
    return (
        s.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("symbol", F.col("event_id").alias("first_event_id"))
    )


SQL_U3 = f"""
WITH {SERIES_SQL}
SELECT symbol, min(event_id) AS first_event_id FROM series GROUP BY symbol
"""


def q_x_feature_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-engineering extension surface (reference placeholder
    src/transformers/feature_engineering.py): lag/rolling features + forward
    label per (symbol, d)."""
    from market_data_pipeline_spark.operators import features

    b = _bars(spark, sf)
    w = series_window(time_col="d")
    out = features.make_features(b, lags=(1, 5), window=10, label_horizon=5, time_col="d", w=w)
    return out.select(
        "symbol", "d", "ret_lag_1", "ret_lag_5", "close_rel_mean", "close_z",
        "vol_rel", "label_fwd_return",
    )


SQL_FEATURES = f"""
WITH {BARS_SQL},
f AS (
  SELECT symbol, d,
    round(close / nullif(lag(close, 1) OVER ({_WIND}), 0) - 1, 6) AS ret_lag_1,
    round(close / nullif(lag(close, 5) OVER ({_WIND}), 0) - 1, 6) AS ret_lag_5,
    CASE WHEN count(close) OVER w10 >= 10
         THEN round(close / nullif(avg(close) OVER w10, 0) - 1, 6) END AS close_rel_mean,
    CASE WHEN count(close) OVER w10 >= 10
         THEN round((close - avg(close) OVER w10) / nullif(stddev_samp(close) OVER w10, 0), 6) END AS close_z,
    CASE WHEN count(volume) OVER w10 >= 10
         THEN round(volume / nullif(avg(volume) OVER w10, 0) - 1, 6) END AS vol_rel,
    round(lead(close, 5) OVER ({_WIND}) / nullif(close, 0) - 1, 6) AS label_fwd_return
  FROM bars
  WINDOW w10 AS ({_WIND} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT * FROM f
"""


def q_x_train_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-based train/val/test split of documents — split
    counts per language (the dataset-curation report)."""
    from market_data_pipeline_spark.operators import features

    d = _docs(spark, sf)
    return (
        features.assign_split(d, "doc_id")
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_TRAIN_SPLIT = """
WITH s AS (
  SELECT lang,
    CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
         WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, count(*) AS n_docs FROM s GROUP BY lang, split
"""


def q_j4_status_stitch(spark: SparkSession, sf: str) -> DataFrame:
    """J4 — per-symbol stitch of analysis results with the listing dim
    (pipeline.py:328-353): broadcast left join, latest bar per symbol gains
    status/exchange."""
    from market_data_pipeline_spark.operators import universe

    b = _bars(spark, sf)
    latest = screeners.last_row_per_symbol(b, time_col="d").select(
        "symbol", "d", F.round("close", 4).alias("close")
    )
    listing = _listing(spark, sf).select(
        F.col("id").alias("symbol"), "status", "exchange"
    )
    return universe.status_lookup(latest, listing)


SQL_J4 = f"""
WITH {BARS_SQL},
{_LISTING_SQL},
latest AS (
  SELECT symbol, d, round(close, 4) AS close FROM (
    SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rn FROM bars
  ) WHERE rn = 1
)
SELECT l.symbol, l.d, l.close, li.status, li.exchange
FROM latest l LEFT JOIN listing li ON l.symbol = li.id
"""


def q_o4b_liquidity_topn(spark: SparkSession, sf: str) -> DataFrame:
    """O4 — top-N by liquidity with non-numeric fallback
    (market_scope_filter.py:157-203)."""
    from market_data_pipeline_spark.operators import universe

    return universe.top_n_by_liquidity(_listing(spark, sf), n=50).select(
        "id", "symbol", "avg_value"
    )


SQL_O4B = f"""
WITH {_LISTING_SQL}
SELECT id, symbol, avg_value FROM listing
WHERE avg_value IS NOT NULL
ORDER BY avg_value DESC, symbol LIMIT 50
"""


def q_m_resize(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image resize round trip (r2 verdict #3 closed): text bytes →
    real grayscale PNG (stdlib encoder) → nearest-neighbor resize to 16×16
    → re-encode → REAL decode of the output payload. Every reported value
    comes from parsing the resized PNG, and the oracle recomputes the
    nearest-neighbor index map ((y·h)//16 source row, 2x source col) over
    the document's bytes in pure SQL — the codec path is what's checked.
    (operators/imagecodec.py; reference has no image ops — north-star.)"""
    from market_data_pipeline_spark.operators import multimodal

    d = _docs(spark, sf)
    media = multimodal.documents_as_png(d, width=32)
    small = multimodal.resize_images(media, target_w=16, target_h=16)
    return multimodal.extract_image_stats(small).select(
        "media_id", "width", "height", "px_sum"
    )


SQL_M_RESIZE = f"""
WITH m AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
),
dims AS (
  SELECT media_id, hx, nb,
         greatest(1, CAST(ceil(nb / 32.0) AS INT)) AS h
  FROM m
),
grid AS (SELECT a.range AS y, b.range AS x FROM range(0, 16) a, range(0, 16) b),
px AS (
  SELECT d.media_id, ((g.y * d.h) // 16) * 32 + 2 * g.x AS idx
  FROM dims d CROSS JOIN grid g
),
v AS (
  SELECT p.media_id,
         CASE WHEN p.idx < d.nb THEN {_sql_byte_at('d.hx', 'p.idx')} ELSE 0 END AS byte
  FROM px p JOIN dims d USING (media_id)
)
SELECT media_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(sum(byte) AS BIGINT) AS px_sum
FROM v GROUP BY media_id
"""


def q_m_image_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """PNG encode→decode round trip through the REAL stdlib codec: each
    document's bytes become a 32-wide grayscale PNG; the decoded stats must
    reproduce the byte sum and the padded geometry exactly."""
    from market_data_pipeline_spark.operators import multimodal

    d = _docs(spark, sf)
    media = multimodal.documents_as_png(d, width=32)
    # px_mean is excluded: px_sum/(32·h) lands on exact .5 ulp boundaries
    # (denominator is a power-of-two multiple) where Python's round-half-even
    # and SQL round-half-away legitimately differ; px_sum + dims carry the
    # same information exactly.
    return multimodal.extract_image_stats(media).select(
        "media_id", "width", "height", "channels", "px_sum"
    )


SQL_M_ROUNDTRIP = f"""
WITH m AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
),
-- 1 MB/doc expansion cap; overflow under-sums the ORACLE side only ->
-- loud verification failure, never a false pass
g AS (SELECT range AS i FROM range(0, 1000000)),
b AS (
  SELECT m.media_id, {_sql_byte_at('m.hx', 'g.i')} AS byte
  FROM m JOIN g ON g.i < m.nb
),
s AS (SELECT media_id, sum(byte) AS px_sum FROM b GROUP BY media_id),
dims AS (
  SELECT media_id, greatest(1, CAST(ceil(nb / 32.0) AS INT)) AS h FROM m
)
SELECT m.media_id, CAST(32 AS INT) AS width, CAST(dims.h AS INT) AS height,
       CAST(1 AS INT) AS channels,
       CAST(coalesce(s.px_sum, 0) AS BIGINT) AS px_sum
FROM m JOIN dims USING (media_id) LEFT JOIN s USING (media_id)
"""


def q_a_distinct_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Exact distinct counts (§2.4 extension); the HLL++ approx variant is
    asserted within tolerance in tests (cross-engine sketch values differ)."""
    return relational.distinct_sketches(spark, sf)


SQL_DISTINCT = """
SELECT count(DISTINCT l_partkey) AS exact_parts,
       count(DISTINCT l_suppkey) AS exact_supps
FROM lineitem
"""


def q_sim_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF search (nprobe=1): score only the query's cell — with a
    cell-partitioned corpus layout this is partition-pruned 1/K scan."""
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(e, q, k=5, n_cells=16)


SQL_SIM_IVF_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, {_ivf_sims_sql()} AS sims FROM e),
b AS (SELECT vec_id, v, CAST(list_position(sims, list_max(sims)) - 1 AS INTEGER) AS cell FROM s),
q AS (SELECT vec_id AS query_id, v AS qv, cell FROM b WHERE vec_id < 5),
c AS (SELECT vec_id AS corpus_id, v AS cv, cell FROM b),
scored AS (
  SELECT query_id, corpus_id,
    round(list_dot_product(qv, cv)
          / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0), 6) AS cos_sim
  FROM c JOIN q USING (cell)
  WHERE query_id <> corpus_id
)
SELECT query_id, corpus_id, cos_sim, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS INT) AS rk
  FROM scored
) WHERE rk <= 5
"""


def q_w_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE window frame — trailing 7 CALENDAR days (not 7 rows) per
    symbol. The reference has no RANGE frames at all (SURVEY §2.5); Spark
    range frames handle gapped series correctly where row frames can't."""
    b = _bars(spark, sf)
    days = F.datediff(F.col("d"), F.lit("1970-01-01"))
    w = (
        Window.partitionBy("symbol")
        .orderBy(days)
        .rangeBetween(-6, 0)
    )
    return b.select(
        "symbol",
        "d",
        F.round(F.sum("volume").over(w), 4).alias("vol_7d"),
        F.count(F.lit(1)).over(w).alias("n_days_7d"),
    )


SQL_W_RANGE = f"""
WITH {BARS_SQL}
SELECT symbol, d,
  round(sum(volume) OVER w, 4) AS vol_7d,
  count(*) OVER w AS n_days_7d
FROM bars
WINDOW w AS (PARTITION BY symbol ORDER BY d RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
"""


def q_sim_ann_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return similarity.ann_topk_multiprobe(e, q, k=5, n_planes=8)


SQL_SIM_MULTIPROBE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_lsh_bucket_sql(8)} AS lsh_bucket FROM e),
q0 AS (SELECT vec_id AS query_id, v AS qv, lsh_bucket FROM b WHERE vec_id < 5),
probes AS (
  SELECT query_id, qv, lsh_bucket FROM q0
  UNION ALL
  SELECT query_id, qv, xor(lsh_bucket, CAST(p AS BIGINT))
  FROM q0, (SELECT unnest([{', '.join(str(1 << i) for i in range(8))}]) AS p)
),
c AS (SELECT vec_id AS corpus_id, v AS cv, lsh_bucket FROM b),
scored AS (
  SELECT DISTINCT query_id, corpus_id,
    round(list_dot_product(qv, cv)
          / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0), 6) AS cos_sim
  FROM c JOIN probes USING (lsh_bucket)
  WHERE query_id <> corpus_id
)
SELECT query_id, corpus_id, cos_sim, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS INT) AS rk
  FROM scored
) WHERE rk <= 5
"""


_REGISTRY.update(
    {
        "inv_sim_ann_multiprobe": (q_sim_ann_multiprobe, SQL_SIM_MULTIPROBE),
        "inv_sim_ivf_topk": (q_sim_ivf_topk, SQL_SIM_IVF_TOPK),
        "inv_w_range_frame": (q_w_range_frame, SQL_W_RANGE),
        "inv_a_distinct_counts": (q_a_distinct_counts, SQL_DISTINCT),
        "inv_j4_status_stitch": (q_j4_status_stitch, SQL_J4),
        "inv_o4b_liquidity_topn": (q_o4b_liquidity_topn, SQL_O4B),
        "inv_m_resize": (q_m_resize, SQL_M_RESIZE),
        "inv_m_image_roundtrip": (q_m_image_roundtrip, SQL_M_ROUNDTRIP),
        "inv_x_feature_matrix": (q_x_feature_matrix, SQL_FEATURES),
        "inv_x_train_split": (q_x_train_split, SQL_TRAIN_SPLIT),
        "inv_p14_signal_buckets": (q_p14_signal_buckets, SQL_P14),
        "inv_p15_alias_coalesce": (q_p15_alias_coalesce, SQL_P15),
        "inv_u3_distinct_first": (q_u3_distinct_first, SQL_U3),
        "inv_st_session_stream": (q_st_session_stream, SQL_ST_SESSION_STREAM),
        "inv_st_stateful_totals": (q_st_stateful_totals, SQL_ST_STATEFUL),
        "inv_j1_time_join": (q_j1_time_join, SQL_J1),
        "inv_asof_join_bars": (q_asof_join_bars, SQL_ASOF),
        "inv_asof_forward_tolerance": (q_asof_forward_tolerance, SQL_ASOF_FWD),
        "inv_x_anomaly_zscore": (q_x_anomaly_zscore, SQL_ANOMALY),
        "inv_x_corr_matrix": (q_x_corr_matrix, SQL_CORR_MATRIX),
        "inv_w20_market_summary": (q_w20_market_summary, SQL_W20),
        "inv_a3_signal_counts": (q_a3_signal_counts, SQL_A3),
        "inv_a14_run_summary": (q_a14_run_summary, SQL_A14),
        "inv_o3_leading_sectors": (q_o3_leading_sectors, SQL_O3),
        "inv_o6_weekly_topbottom": (q_o6_weekly_topbottom, SQL_O6),
        "inv_s7_recent_events": (q_s7_recent_events, SQL_S7),
        "inv_p9_scope_filter": (q_p9_scope_filter, SQL_P9),
        "inv_p12_inactive_filter": (q_p12_inactive_filter, SQL_P12),
        "inv_o9_distinct_symbols": (q_o9_distinct_symbols, SQL_O9),
    }
)


# ---------------------------------------------------------------------------
# queries — decision-support depth (TPC-H-shaped; §2.3/§2.4 extension block 2)
# ---------------------------------------------------------------------------


def q_q6_selective_revenue(spark: SparkSession, sf: str) -> DataFrame:
    return relational.selective_revenue(spark, sf, year=1996)


SQL_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_q4_priority_exists(spark: SparkSession, sf: str) -> DataFrame:
    return relational.priority_order_counts(spark, sf, quarter_start="1996-07-01")


SQL_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


def q_q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    return relational.returned_item_losses(spark, sf, n=20)


SQL_Q10 = """
SELECT c_custkey, c_name, n_name,
       round(c_acctbal, 2) AS c_acctbal,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_q12_priority_buckets(spark: SparkSession, sf: str) -> DataFrame:
    return relational.priority_line_buckets(spark, sf, year=1996)


SQL_Q12 = """
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_linestatus
"""


def q_q14_promo_share(spark: SparkSession, sf: str) -> DataFrame:
    return relational.promo_revenue_share(spark, sf, month_start="1996-09-01")


SQL_Q14 = """
SELECT round(
         100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
         / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'
"""


def q_q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    return relational.large_quantity_orders(spark, sf, threshold=250.0)


SQL_Q18 = """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 2) > 250.0
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
"""


def q_q11_supplier_share(spark: SparkSession, sf: str) -> DataFrame:
    return relational.supplier_value_share(spark, sf, fraction=0.0105)


SQL_Q11 = """
SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS value
FROM lineitem
GROUP BY l_suppkey
HAVING sum(l_extendedprice * (1 - l_discount)) >
  (SELECT sum(l_extendedprice * (1 - l_discount)) * 0.0105 FROM lineitem)
"""


def q_q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    return relational.top_revenue_suppliers(spark, sf, year=1996)


SQL_Q15 = """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q_q22_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    return relational.idle_rich_customers(spark, sf)


SQL_Q22 = """
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= DATE '1999-01-01')
GROUP BY c_nationkey
"""


def q_q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    return relational.min_cost_supplier_per_part(spark, sf, p_size=15)


SQL_Q2 = """
WITH unit AS (
  SELECT p_partkey, p_name, l_suppkey,
         round(l_extendedprice / l_quantity, 6) AS unit_price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size = 15
)
SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, unit_price
FROM unit JOIN supplier ON l_suppkey = s_suppkey
WHERE unit_price = (
  SELECT min(unit_price) FROM unit u2 WHERE u2.p_partkey = unit.p_partkey
)
"""


def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    return relational.grouping_sets_revenue(spark, sf)


SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS TINYINT) AS g_status,
       CAST(grouping(o_orderpriority) AS TINYINT) AS g_priority,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_w_rank_funcs(spark: SparkSession, sf: str) -> DataFrame:
    return relational.balance_rank_profile(spark, sf)


SQL_RANK_FUNCS = """
SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS c_acctbal,
  CAST(ntile(4)      OVER w AS INT) AS quartile,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist()    OVER w, 6) AS cume,
  CAST(dense_rank()  OVER w AS INT) AS drank
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
"""


# ---------------------------------------------------------------------------
# queries — vector/embedding analytics (north-star extension block 2)
# ---------------------------------------------------------------------------


def q_v_vector_stats(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return similarity.vector_stats(e)


SQL_V_STATS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
  CAST(len(v) AS INT) AS dim,
  CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_pos,
  round(sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')), 6) AS l2_norm,
  round(list_aggregate(v, 'sum') / len(v), 6) AS mean_val,
  round(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 6) AS max_abs
FROM e
"""


def q_v_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return similarity.label_centroids(e)


SQL_V_CENTROIDS = """
SELECT label, dim_pos, round(avg(e), 6) AS centroid
FROM (
  SELECT label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim_pos,
         CAST(unnest(embedding) AS DOUBLE) AS e
  FROM embeddings
)
GROUP BY label, dim_pos
"""


def q_v_kmeans_assign(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return similarity.assign_nearest_centroid(e)


SQL_V_KMEANS = """
WITH v AS (
  SELECT vec_id, label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim_pos,
         CAST(unnest(embedding) AS DOUBLE) AS e
  FROM embeddings
),
c AS (SELECT label AS cent_label, dim_pos, avg(e) AS c FROM v GROUP BY 1, 2),
d AS (
  SELECT v.vec_id, v.label AS true_label, c.cent_label,
         round(sum((v.e - c.c) * (v.e - c.c)), 6) AS dist
  FROM v JOIN c USING (dim_pos)
  GROUP BY 1, 2, 3
),
r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_label) AS rn FROM d)
SELECT vec_id, true_label, cent_label AS assigned_label, dist FROM r WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# queries — text TF-IDF, behavior analytics, stream-static join
# ---------------------------------------------------------------------------


def q_t_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return text.tfidf_top_terms(d, k=3)


SQL_T_TFIDF = f"""
WITH n AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (
  SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM n
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
),
idf AS (
  SELECT term, ln(((SELECT count(*) FROM documents) + 1) / (count(*) + 1.0)) + 1 AS idf
  FROM tf GROUP BY term
),
scored AS (
  SELECT doc_id, tf.term, tf, round(tf * idf, 6) AS tfidf
  FROM tf JOIN idf ON tf.term = idf.term
)
SELECT doc_id, term, tf, tfidf, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rk
  FROM scored
) WHERE rk <= 3
"""


def q_e_funnel(spark: SparkSession, sf: str) -> DataFrame:
    return behavior.conversion_funnel(spark, sf)


SQL_E_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.t
  WHERE e.event_type = 'click' GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.t
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT '1_view' AS stage, count(*) AS n_users FROM v
UNION ALL SELECT '2_click', count(*) FROM c
UNION ALL SELECT '3_purchase', count(*) FROM p
"""


def q_e_retention(spark: SparkSession, sf: str) -> DataFrame:
    return behavior.retention_cohorts(spark, sf)


SQL_E_RETENTION = """
WITH fd AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1
)
SELECT cohort_day,
       CAST(CAST(e.ts AS DATE) - cohort_day AS INT) AS day_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN fd ON e.user_id = fd.user_id
GROUP BY 1, 2
"""


def q_st_static_join(spark: SparkSession, sf: str) -> DataFrame:
    ev = streaming_jobs.stream_events(spark, sf)
    agg = streaming_jobs.stream_static_enrich(spark, sf, ev)
    return streaming_jobs.run_stream_to_memory(spark, agg, "static_join")


SQL_ST_STATIC_JOIN = """
WITH profile AS (
  SELECT user_id, avg(value) AS avg_value FROM events GROUP BY 1
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN value > avg_value THEN 1 ELSE 0 END) AS BIGINT) AS n_above_user_avg
FROM events JOIN profile USING (user_id)
GROUP BY event_type
"""


def q_v_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (similarity.pq_fit/pq_topk): 8 subspace
    codebooks of 16 centroids trained by quantized Lloyd's (all subspaces
    in ONE set of jobs), corpus encoded to 8-byte codes, asymmetric-
    distance top-k from broadcast distance tables. Fully oracle-checked:
    the 6dp in-loop centroid rounding makes the trainer engine-
    reproducible, so the DuckDB twin unrolls the same 3 E/M pairs and
    replays the ADC lookup exactly."""
    e = load_table(spark, sf, "embeddings")
    return similarity.pq_topk(e, n_queries=5, topk=5, m=8, k=16, iters=3)


def _pq_topk_sql(
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    dim: int = 64,
    n_queries: int = 5,
    topk: int = 5,
) -> str:
    """DuckDB unrolling of pq_topk — the kmeans oracle generalized with a
    subspace key: per (vec_id, sub) argmin, per (sub, cluster, dim) rounded
    means, codes = final assignment, ADC = sum of per-subspace table
    lookups."""
    sub_dim = dim // m

    def dist(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}),"
            f" s -> (s[1] - s[2]) * (s[1] - s[2])))"
        )

    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f""", b AS (
  SELECT vec_id, CAST(s.range AS INT) AS sub,
         v[CAST(s.range * {sub_dim} + 1 AS INT) : CAST(s.range * {sub_dim} + {sub_dim} AS INT)] AS sv
  FROM e CROSS JOIN range(0, {m}) s
)""",
        f""", c0 AS (
  SELECT sub, CAST(rn - 1 AS INT) AS cluster, sv AS cv FROM (
    SELECT sub, sv, row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
    FROM b
  ) WHERE rn <= {k}
)""",
        f""", a0 AS (
  SELECT b.vec_id, b.sub, (min({{'d': {dist('b.sv', 'c.cv')}, 'c': c.cluster}})).c AS cluster
  FROM b JOIN c0 c USING (sub) GROUP BY b.vec_id, b.sub
)""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", cm{i} AS (
  SELECT a.sub, a.cluster, r.range AS dim,
         round(avg(b.sv[CAST(r.range AS INT)]), 6) AS c
  FROM b JOIN a{i - 1} a ON a.vec_id = b.vec_id AND a.sub = b.sub
  CROSS JOIN range(1, {sub_dim + 1}) r
  GROUP BY a.sub, a.cluster, r.range
), c{i} AS (
  SELECT sub, cluster, list(c ORDER BY dim) AS cv FROM cm{i} GROUP BY sub, cluster
), a{i} AS (
  SELECT b.vec_id, b.sub, (min({{'d': {dist('b.sv', 'c.cv')}, 'c': c.cluster}})).c AS cluster
  FROM b JOIN c{i} c USING (sub) GROUP BY b.vec_id, b.sub
)"""
        )
    parts.append(
        f""", q AS (
  SELECT vec_id AS query_id, sub, sv FROM b
  WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {n_queries})
), dt AS (
  SELECT q.query_id, q.sub, c.cluster, {dist('q.sv', 'c.cv')} AS d
  FROM q JOIN c{iters} c USING (sub)
), scored AS (
  SELECT dt.query_id, a.vec_id AS corpus_id, round(sum(dt.d), 6) AS approx_dist
  FROM a{iters} a JOIN dt ON dt.sub = a.sub AND dt.cluster = a.cluster
  WHERE a.vec_id <> dt.query_id
  GROUP BY 1, 2
)
SELECT query_id, corpus_id, approx_dist, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY approx_dist, corpus_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {topk}"""
    )
    return "\n".join(parts)


def q_v_kmeans_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative Lloyd's k-means — FULLY oracle-checked since round 3: the
    operator quantizes M-step centroids to 6dp in-loop, which makes the
    iterate independent of FP summation order, so a plain SQL UNROLLING of
    the loop (6 E/M pairs as chained CTEs) reproduces the assignment
    exactly. Early convergence needs no special casing: a converged
    assignment is a fixed point, so surplus unrolled iterations are
    no-ops. Exact parity vs a numpy twin is also pinned in
    tests/test_kmeans.py."""
    e = load_table(spark, sf, "embeddings")
    assign, _cents, _iters = similarity.kmeans_fit(e, k=8, max_iter=6)
    return assign.select(F.col("vec_id"), F.col("cluster"))


def _kmeans_fit_sql(k: int = 8, iters: int = 6, dim: int = 64) -> str:
    """DuckDB unrolling of kmeans_fit: seeds = k lowest vec_ids; per
    iteration, per-dim mean rounded to 6dp then argmin by
    (squared-distance, cluster) — the same quantized-Lloyd's recurrence,
    term for term."""
    dist = (
        "list_sum(list_transform(list_zip(e.v, c.cv),"
        " s -> (s[1] - s[2]) * (s[1] - s[2])))"
    )
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f""", c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k})
)""",
        f""", a0 AS (
  SELECT e.vec_id, (min({{'d': {dist}, 'c': c.cluster}})).c AS cluster
  FROM e CROSS JOIN c0 c GROUP BY e.vec_id
)""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", cm{i} AS (
  SELECT a.cluster, r.range AS dim, round(avg(e.v[CAST(r.range AS INT)]), 6) AS c
  FROM e JOIN a{i - 1} a USING (vec_id) CROSS JOIN range(1, {dim + 1}) r
  GROUP BY a.cluster, r.range
), c{i} AS (
  SELECT cluster, list(c ORDER BY dim) AS cv FROM cm{i} GROUP BY cluster
), a{i} AS (
  SELECT e.vec_id, (min({{'d': {dist}, 'c': c.cluster}})).c AS cluster
  FROM e CROSS JOIN c{i} c GROUP BY e.vec_id
)"""
        )
    parts.append(
        f"\nSELECT vec_id, CAST(cluster AS INT) AS cluster FROM a{iters}"
    )
    return "\n".join(parts)


def q_s_bars_weekly(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.sources.tables import rollup_bars

    b = _bars(spark, sf)
    return rollup_bars(b, grain="week")


SQL_BARS_WEEKLY = f"""
WITH {BARS_SQL}
SELECT symbol,
       CAST(date_trunc('week', d) AS DATE) AS period_start,
       arg_min(open, d) AS open,
       max(high) AS high,
       min(low) AS low,
       arg_max(close, d) AS close,
       round(sum(volume), 4) AS volume,
       CAST(sum(n_trades) AS BIGINT) AS n_trades,
       count(*) AS n_days
FROM bars
GROUP BY 1, 2
"""


def q_j_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Salted equi-join (functions/skew.salted_join): the explicit hot-key
    mitigation for huge×medium joins AQE can't broadcast — the small side
    replicates across 8 salts, the big side's rows spread by a
    DETERMINISTIC salt (xxhash64 of a secondary column, never rand()).
    The oracle is the PLAIN join: salting must be result-invariant, and
    the driver hash proves it on real data, not just the pytest fixture."""
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
    )
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    from market_data_pipeline_spark.functions.skew import salted_join

    joined = salted_join(li, p, key="p_partkey", salt_from="l_orderkey", n_salts=8)
    return joined.groupBy("p_type").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


SQL_J_SALTED = """
SELECT p_type,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
"""


def q_j_band_join(spark: SparkSession, sf: str) -> DataFrame:
    return relational.orders_price_bands(spark, sf)


SQL_BAND_JOIN = """
WITH bands(band, lo, hi) AS (
  VALUES ('band_0_100k', 0.0, 100000.0),
         ('band_100_200k', 100000.0, 200000.0),
         ('band_200_300k', 200000.0, 300000.0),
         ('band_300_400k', 300000.0, 400000.0),
         ('band_400k_plus', 400000.0, 600000.0)
)
SELECT band, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_value
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


def q_u_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    return relational.unpivot_status_counts(spark, sf)


SQL_UNPIVOT = """
WITH wide AS (
  SELECT c_mktsegment,
    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_fulfilled,
    CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment
)
SELECT c_mktsegment, 'O' AS o_orderstatus, n_open AS n FROM wide
UNION ALL SELECT c_mktsegment, 'F', n_fulfilled FROM wide
UNION ALL SELECT c_mktsegment, 'P', n_pending FROM wide
"""


def q_x_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import features

    ev = load_table(spark, sf, "events")
    return features.stratified_hash_sample(ev, "event_id", 0.2).select(
        "event_id", "event_type", F.round("value", 4).alias("value")
    )


SQL_HASH_SAMPLE = """
SELECT event_id, event_type, round(value, 4) AS value
FROM events
WHERE (event_id * 2654435761) % 10000 < 2000
"""


def q_e_transitions(spark: SparkSession, sf: str) -> DataFrame:
    return behavior.event_transitions(spark, sf)


SQL_E_TRANSITIONS = """
WITH s AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
FROM s WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


def q_w_twap(spark: SparkSession, sf: str) -> DataFrame:
    b = _series(spark, sf)
    return indicators.twap_daily(b)


# floor(epoch(..)) mirrors Spark's unix_timestamp (seconds, truncated);
# raw epoch() keeps DuckDB's fractional microseconds and diverges.
SQL_W_TWAP = f"""
WITH {SERIES_SQL},
g AS (
  SELECT symbol, CAST(time AS DATE) AS d, close,
         coalesce(
           floor(epoch(lead(time) OVER (PARTITION BY symbol, CAST(time AS DATE) ORDER BY time)))
           - floor(epoch(time)), 0.0) AS gap
  FROM series
)
SELECT symbol, d,
  round(CASE WHEN sum(gap) > 0 THEN sum(close * gap) / sum(gap) ELSE avg(close) END, 6) AS twap,
  round(avg(close), 6) AS simple_avg,
  count(*) AS n_ticks
FROM g GROUP BY symbol, d
"""


def q_e_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort lifetime value (behavior.cohort_ltv): per (first-activity
    cohort, day offset) the purchase revenue, running cumulative revenue,
    and LTV per cohort user — the value-weighted twin of inv_e_retention.
    Per-day revenue is 4 dp-quantized before the ordered running sum, so
    the cumulative matches the oracle bit-for-bit."""
    from market_data_pipeline_spark.operators import behavior

    return behavior.cohort_ltv(spark, sf)


SQL_E_COHORT_LTV = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type, value FROM events
),
fd AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
sz AS (SELECT cohort_day, count(*) AS cohort_users FROM fd GROUP BY 1),
pd AS (
  SELECT f.cohort_day, date_diff('day', f.cohort_day, e.day) AS day_offset,
         round(sum(CASE WHEN e.event_type = 'purchase' THEN e.value ELSE 0 END)
               + 1e-9, 4) AS day_revenue
  FROM ev e JOIN fd f USING (user_id) GROUP BY 1, 2
),
c AS (
  SELECT cohort_day, day_offset, day_revenue,
         sum(day_revenue) OVER (PARTITION BY cohort_day ORDER BY day_offset) AS cum
  FROM pd
)
SELECT c.cohort_day, CAST(c.day_offset AS INT) AS day_offset, c.day_revenue,
       round(c.cum + 1e-9, 4) AS cum_revenue,
       CAST(s.cohort_users AS BIGINT) AS cohort_users,
       round(c.cum / s.cohort_users + 1e-9, 6) AS ltv_per_user
FROM c JOIN sz s USING (cohort_day)
"""


def q_e_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top 3-step user journeys (behavior.top_paths): corpus-wide trigram
    counts over time-ordered event streams, top 20 — the journey view
    first-order transitions can't express."""
    from market_data_pipeline_spark.operators import behavior

    return behavior.top_paths(spark, sf, k=20)


SQL_E_TOP_PATHS = """
WITH o AS (
  SELECT event_type AS step1,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
  FROM events
)
SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n
FROM o WHERE step3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, step1, step2, step3 LIMIT 20
"""


def q_e_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user activity burstiness (behavior.activity_burstiness): Fano
    factor of daily event counts — the regularity feature that separates
    steady users from bots and campaign spikes. Integer daily counts make
    the dispersion moments exact; the division is one pinned expression."""
    from market_data_pipeline_spark.operators import behavior

    return behavior.activity_burstiness(spark, sf)


SQL_E_BURSTINESS = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(*) AS DOUBLE) AS k,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(sum(c) AS DOUBLE) AS s1, CAST(sum(c * c) AS DOUBLE) AS s2
  FROM daily GROUP BY 1
)
SELECT user_id, n_days, n_events,
       round((s1 / k) + 1e-9, 6) AS mean_daily,
       round((((s2 / k) - ((s1 / k) * (s1 / k))) / (s1 / k)) + 1e-9, 6) AS fano,
       (((s2 / k) - ((s1 / k) * (s1 / k))) / (s1 / k)) > CAST(1.5 AS DOUBLE) AS is_bursty
FROM g
"""


def q_e_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Single-touch conversion attribution (behavior.touch_attribution):
    first-touch and last-touch credit per event type for every purchase,
    with the attributed value — the marketing-analytics complement to the
    funnel/transition queries. One user-partitioned window + an
    O(models×types) aggregate."""
    from market_data_pipeline_spark.operators import behavior

    return behavior.touch_attribution(load_table(spark, sf, "events"))


SQL_E_ATTRIBUTION = """
WITH o AS (
  SELECT user_id, event_type, value,
         first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
  FROM events
),
p AS (SELECT * FROM o WHERE event_type = 'purchase'),
u AS (
  SELECT 'first_touch' AS model, ft AS event_type, value FROM p WHERE ft IS NOT NULL
  UNION ALL
  SELECT 'last_touch' AS model, lt AS event_type, value FROM p WHERE lt IS NOT NULL
)
SELECT model, event_type, CAST(count(*) AS BIGINT) AS conversions,
       round(sum(value) + 1e-9, 4) AS attributed_value
FROM u GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_a_mom_growth(spark: SparkSession, sf: str) -> DataFrame:
    return relational.monthly_revenue_growth(spark, sf)


SQL_A_MOM = """
WITH m AS (
  SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS month,
         sum(l_extendedprice * (1 - l_discount)) AS rev,
         count(*) AS n_lines
  FROM lineitem GROUP BY 1
)
SELECT month, round(rev, 2) AS revenue, n_lines,
  round((rev - lag(rev) OVER (ORDER BY month)) / nullif(lag(rev) OVER (ORDER BY month), 0) * 100.0, 4) AS mom_growth_pct
FROM m
"""


_REGISTRY.update(
    {
        "inv_e_transitions": (q_e_transitions, SQL_E_TRANSITIONS),
        "inv_e_attribution": (q_e_attribution, SQL_E_ATTRIBUTION),
        "inv_e_cohort_ltv": (q_e_cohort_ltv, SQL_E_COHORT_LTV),
        "inv_e_burstiness": (q_e_burstiness, SQL_E_BURSTINESS),
        "inv_e_top_paths": (q_e_top_paths, SQL_E_TOP_PATHS),
        "inv_w_twap": (q_w_twap, SQL_W_TWAP),
        "inv_a_mom_growth": (q_a_mom_growth, SQL_A_MOM),
        "inv_s_bars_weekly": (q_s_bars_weekly, SQL_BARS_WEEKLY),
        "inv_j_band_join": (q_j_band_join, SQL_BAND_JOIN),
        "inv_j_salted_join": (q_j_salted_join, SQL_J_SALTED),
        "inv_u_unpivot": (q_u_unpivot, SQL_UNPIVOT),
        "inv_x_hash_sample": (q_x_hash_sample, SQL_HASH_SAMPLE),
        "inv_v_kmeans_fit": (q_v_kmeans_fit, _kmeans_fit_sql()),
        "inv_v_pq_topk": (q_v_pq_topk, _pq_topk_sql()),
        "inv_t_tfidf": (q_t_tfidf, SQL_T_TFIDF),
        "inv_e_funnel": (q_e_funnel, SQL_E_FUNNEL),
        "inv_e_retention": (q_e_retention, SQL_E_RETENTION),
        "inv_st_static_join": (q_st_static_join, SQL_ST_STATIC_JOIN),
        "inv_q6_selective_revenue": (q_q6_selective_revenue, SQL_Q6),
        "inv_q4_priority_exists": (q_q4_priority_exists, SQL_Q4),
        "inv_q10_returned_items": (q_q10_returned_items, SQL_Q10),
        "inv_q12_priority_buckets": (q_q12_priority_buckets, SQL_Q12),
        "inv_q14_promo_share": (q_q14_promo_share, SQL_Q14),
        "inv_q18_large_orders": (q_q18_large_orders, SQL_Q18),
        "inv_q11_supplier_share": (q_q11_supplier_share, SQL_Q11),
        "inv_q15_top_supplier": (q_q15_top_supplier, SQL_Q15),
        "inv_q22_idle_customers": (q_q22_idle_customers, SQL_Q22),
        "inv_q2_min_cost_supplier": (q_q2_min_cost_supplier, SQL_Q2),
        "inv_grouping_sets": (q_grouping_sets, SQL_GROUPING_SETS),
        "inv_w_rank_funcs": (q_w_rank_funcs, SQL_RANK_FUNCS),
        "inv_v_vector_stats": (q_v_vector_stats, SQL_V_STATS),
        "inv_v_label_centroids": (q_v_label_centroids, SQL_V_CENTROIDS),
        "inv_v_kmeans_assign": (q_v_kmeans_assign, SQL_V_KMEANS),
    }
)


def _last_clean_rounds() -> dict[str, int]:
    """name -> last round with a clean row (err null, no field False) in the
    CORRECTNESS_r<NN>.json files committed beside this module."""
    rounds: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if row.get("err") is None and not any(v is False for v in row.values()):
                    rounds[name] = max(rounds.get(name, 0), rnd)
    return rounds


def _driver_order() -> list[str]:
    last = _last_clean_rounds()
    pending = [n for n in _REGISTRY if n not in last]
    green = sorted((n for n in _REGISTRY if n in last), key=lambda n: (last[n], n))
    return pending + green


def _tuned(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    @functools.wraps(fn)
    def run(spark: SparkSession, sf: str) -> DataFrame:
        tune_existing(spark)
        return fn(spark, sf)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ordered at call time: registration blocks below this line count too
    return {name: _tuned(_REGISTRY[name][0]) for name in _driver_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name][1]
        for name in _driver_order()
        if _REGISTRY[name][1] is not None
    }


# ---------------------------------------------------------------------------
# TPC-H completion set: q7/q8/q9/q13/q16/q17/q19/q20/q21 (adapted to the
# driver schema — adaptations documented on the operators).
# ---------------------------------------------------------------------------


def q_q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    return relational.volume_shipping(spark, sf)


SQL_Q7 = """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


def q_q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    return relational.national_market_share(spark, sf)


SQL_Q8 = """
SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
       round(sum(CASE WHEN n1.n_name = 'NATION_5'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_volume
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_type = 'ECONOMY'
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
  AND o_custkey IN (
    SELECT c_custkey FROM customer
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region ON n2.n_regionkey = region.r_regionkey
    WHERE r_name = 'ASIA')
GROUP BY 1
"""


def q_q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    return relational.product_type_profit(spark, sf)


SQL_Q9 = """
SELECT n_name AS nation, CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_name LIKE '%widget%'
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


def q_q13_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    return relational.customer_order_distribution(spark, sf)


SQL_Q13 = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
"""


def q_q16_part_variety(spark: SparkSession, sf: str) -> DataFrame:
    return relational.supplier_part_variety(spark, sf)


SQL_Q16 = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size <= 25
GROUP BY 1, 2, 3
"""


def q_q17_small_qty(spark: SparkSession, sf: str) -> DataFrame:
    return relational.small_quantity_revenue(spark, sf)


SQL_Q17 = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < 0.2 * (
    SELECT avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def q_q19_disjunctive(spark: SparkSession, sf: str) -> DataFrame:
    return relational.disjunctive_band_revenue(spark, sf)


SQL_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def q_q20_dominant_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    return relational.dominant_part_suppliers(spark, sf)


SQL_Q20 = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM (
    SELECT p_partkey AS pk, l_suppkey, sum(l_quantity) AS supp_qty
    FROM lineitem
    JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
    GROUP BY 1, 2
  ) shipped
  WHERE supp_qty > 0.5 * (
    SELECT sum(s2.supp_qty) FROM (
      SELECT p_partkey AS pk, l_suppkey, sum(l_quantity) AS supp_qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      GROUP BY 1, 2
    ) s2 WHERE s2.pk = shipped.pk))
"""


def q_q21_late_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    return relational.late_sole_blame_suppliers(spark, sf)


SQL_Q21 = """
WITH flagged AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY AS is_late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM flagged GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM flagged WHERE is_late) blamed
JOIN per_order USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE n_supp > 1 AND n_late_supp = 1
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey
LIMIT 20
"""


_REGISTRY.update(
    {
        "inv_q7_volume_shipping": (q_q7_volume_shipping, SQL_Q7),
        "inv_q8_market_share": (q_q8_market_share, SQL_Q8),
        "inv_q9_product_profit": (q_q9_product_profit, SQL_Q9),
        "inv_q13_order_distribution": (q_q13_order_distribution, SQL_Q13),
        "inv_q16_part_variety": (q_q16_part_variety, SQL_Q16),
        "inv_q17_small_qty_revenue": (q_q17_small_qty, SQL_Q17),
        "inv_q19_disjunctive_bands": (q_q19_disjunctive, SQL_Q19),
        "inv_q20_dominant_suppliers": (q_q20_dominant_suppliers, SQL_Q20),
        "inv_q21_late_suppliers": (q_q21_late_suppliers, SQL_Q21),
    }
)


def q_st_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    joined = streaming_jobs.stream_stream_attribution(spark, sf)
    return streaming_jobs.run_stream_to_memory(spark, joined, "attribution", output_mode="append")


SQL_ST_STREAM_JOIN = """
SELECT p.user_id, c.event_id AS click_id, p.event_id AS buy_id,
       round(p.value, 4) AS buy_value
FROM events c
JOIN events p ON c.user_id = p.user_id
  AND c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


_REGISTRY.update({"inv_st_stream_join": (q_st_stream_join, SQL_ST_STREAM_JOIN)})


# ---------------------------------------------------------------------------
# Training-data ops: chunking, PII redaction, int8 quantization
# ---------------------------------------------------------------------------


def q_t_chunk(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import text as text_ops

    return text_ops.chunk_documents(_docs(spark, sf), size=64, stride=32)


SQL_T_CHUNK = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
),
n AS (
  SELECT doc_id, toks, len(toks) AS n,
         CAST(greatest(0, ceil((len(toks) - 64) / 32.0)) AS BIGINT) AS last_i
  FROM t
),
c AS (
  SELECT doc_id, toks, n, unnest(generate_series(0, last_i)) AS chunk_id FROM n
)
SELECT doc_id, chunk_id,
       array_to_string(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 64), ' ') AS chunk_text,
       least(64, n - chunk_id * 32) AS n_tokens
FROM c
"""


def q_t_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction over deterministic synthetic contact strings (the
    documents corpus has no PII by construction, so the fixture builds
    email/phone/account text from customer keys — same pattern as the
    Vietnamese-parser fixture)."""
    from market_data_pipeline_spark.operators import text as text_ops

    c = load_table(spark, sf, "customer")
    raw = c.select(
        "c_custkey",
        F.concat(
            F.lit("contact user"),
            F.col("c_custkey"),
            F.lit("@example.com or +84 90 555 "),
            F.col("c_custkey"),
            F.lit("1234 acct "),
            (F.col("c_custkey") + 7000000).cast("string"),
        ).alias("raw"),
    )
    return text_ops.redact_pii(raw, text_col="raw", out_col="redacted").select(
        "c_custkey", "redacted"
    )


SQL_T_REDACT = """
WITH raw AS (
  SELECT c_custkey,
         'contact user' || CAST(c_custkey AS VARCHAR) || '@example.com or +84 90 555 '
         || CAST(c_custkey AS VARCHAR) || '1234 acct ' || CAST(c_custkey + 7000000 AS VARCHAR) AS raw
  FROM customer
)
SELECT c_custkey,
  regexp_replace(
    regexp_replace(
      regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\\+?\\d[\\d .-]{7,}\\d', '<PHONE>', 'g'),
    '\\d{6,}', '<NUM>', 'g') AS redacted
FROM raw
"""


def q_v_quantize(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return similarity.quantize_vectors(e)


SQL_V_QUANTIZE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS sc
  FROM e
),
q AS (
  SELECT vec_id, sc,
         list_transform(v, x -> CAST(CASE WHEN sc > 0 THEN round(x / sc) ELSE 0.0 END AS INT)) AS qv
  FROM s
)
SELECT vec_id, round(sc, 8) AS scale,
       array_to_string(list_slice(qv, 1, 8), ',') AS q_head,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
       list_aggregate(qv, 'max') AS q_max,
       list_aggregate(qv, 'min') AS q_min
FROM q
"""


_REGISTRY.update(
    {
        "inv_t_chunk": (q_t_chunk, SQL_T_CHUNK),
        "inv_t_redact": (q_t_redact, SQL_T_REDACT),
        "inv_v_quantize": (q_v_quantize, SQL_V_QUANTIZE),
    }
)


def q_d_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup fixture: docs with doc_id % 4 == 0 are the
    existing store; the rest are the new batch to admit."""
    d = _docs(spark, sf)
    store = d.filter(F.col("doc_id") % 4 == 0)
    new = d.filter(F.col("doc_id") % 4 != 0)
    return dedup.incremental_dedup(new, store, threshold=0.05)


SQL_D_INCREMENTAL = f"""
WITH {_SHINGLE_SQL},
{_minhash_sig_sql()},
{_band_sql()},
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '[\\s\\v]+', ' ', 'g'))) AS fingerprint
  FROM documents
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id
  FROM buckets n JOIN buckets s
    ON n.band = s.band AND n.bucket = s.bucket
  WHERE n.doc_id % 4 <> 0 AND s.doc_id % 4 = 0
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT c.new_id, c.store_id, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.new_id
  JOIN sh b ON b.doc_id = c.store_id AND b.shingle = a.shingle
  GROUP BY 1, 2
),
near_rejected AS (
  SELECT DISTINCT cm.new_id FROM common cm
  JOIN sizes sa ON sa.doc_id = cm.new_id
  JOIN sizes sb ON sb.doc_id = cm.store_id
  WHERE cm.n_common / CAST(sa.sz + sb.sz - cm.n_common AS DOUBLE) >= 0.05
)
SELECT n.doc_id, n.fingerprint
FROM fp n
WHERE n.doc_id % 4 <> 0
  AND n.fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 4 = 0)
  AND n.doc_id NOT IN (SELECT new_id FROM near_rejected)
"""


_REGISTRY.update({"inv_d_incremental": (q_d_incremental, SQL_D_INCREMENTAL)})


def q_q_histogram_eqdepth(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import quality

    o = load_table(spark, sf, "orders")
    return quality.histogram_equidepth(o, "o_totalprice", bins=10, tiebreak="o_orderkey")


SQL_Q_HIST_EQDEPTH = """
SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 4) AS lo_val,
       round(max(o_totalprice), 4) AS hi_val
FROM (
  SELECT o_totalprice, ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders WHERE o_totalprice IS NOT NULL
)
GROUP BY bin
"""


_REGISTRY.update({"inv_q_histogram_eqdepth": (q_q_histogram_eqdepth, SQL_Q_HIST_EQDEPTH)})


def q_t_repetition(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import text as text_ops

    d = _docs(spark, sf)
    return text_ops.add_repetition_stats(d).select(
        "doc_id", "dup_ngram_frac", "top_token_share"
    )


SQL_T_REPETITION = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(generate_series(0, len(toks) - 2),
                                  i -> toks[i + 1] || ' ' || toks[i + 2])
              ELSE [] END AS grams
  FROM t
)
SELECT doc_id,
  CASE WHEN len(grams) > 0
       THEN round(1 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 6)
       ELSE 0.0 END AS dup_ngram_frac,
  round(list_max(list_transform(list_distinct(toks),
                                t -> len(list_filter(toks, x -> x = t))))
        / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS top_token_share
FROM g
"""


_REGISTRY.update({"inv_t_repetition": (q_t_repetition, SQL_T_REPETITION)})


def q_j_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 fixture: a synthetic 3-epoch customer-tier dimension (epochs cut
    at 1997/1999, tier derived from custkey+epoch) joined point-in-time
    against orders on o_orderdate; output is tier × epoch order counts."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("o_date")
    )
    c = load_table(spark, sf, "customer").select("c_custkey")
    epochs = spark.createDataFrame(
        [(0, "1990-01-01", "1997-01-01"), (1, "1997-01-01", "1999-01-01"), (2, "1999-01-01", None)],
        "epoch int, vfrom string, vto string",
    )
    dim = (
        c.crossJoin(F.broadcast(epochs))
        .select(
            F.col("c_custkey").alias("o_custkey"),
            F.to_date("vfrom").alias("valid_from"),
            F.to_date("vto").alias("valid_to"),
            "epoch",
            F.concat(F.lit("tier_"), ((F.col("c_custkey") + F.col("epoch")) % 3).cast("string")).alias("tier"),
        )
    )
    j = relational.scd2_point_in_time_join(o, dim, key="o_custkey", ts_col="o_date")
    return j.groupBy("epoch", "tier").agg(F.count(F.lit(1)).alias("n_orders"))


SQL_J_SCD2 = """
WITH epochs(epoch, vfrom, vto) AS (
  VALUES (0, DATE '1990-01-01', DATE '1997-01-01'),
         (1, DATE '1997-01-01', DATE '1999-01-01'),
         (2, DATE '1999-01-01', NULL)
),
dim AS (
  SELECT c_custkey, epoch, vfrom, vto,
         'tier_' || CAST((c_custkey + epoch) % 3 AS VARCHAR) AS tier
  FROM customer CROSS JOIN epochs
)
SELECT epoch, tier, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN dim ON o_custkey = c_custkey
        AND CAST(o_orderdate AS DATE) >= vfrom
        AND (vto IS NULL OR CAST(o_orderdate AS DATE) < vto)
GROUP BY 1, 2
"""


_REGISTRY.update({"inv_j_scd2_pit": (q_j_scd2, SQL_J_SCD2)})


def q_st_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming op WITH a full SQL oracle: the Welford z-score
    stream over one availableNow pass equals a batch prefix-window scan."""
    from market_data_pipeline_spark.streaming import stateful

    ev = streaming_jobs.stream_events(spark, sf).select("user_id", "event_id", "ts", "value")
    flagged = stateful.streaming_anomaly_zscore(ev, threshold=2.0, min_obs=10)
    out = streaming_jobs.run_stream_to_memory(spark, flagged, "anomaly_z", output_mode="append")
    return out.select("user_id", "event_id", F.round("value", 4).alias("value"), "zscore", "is_anomaly")


SQL_ST_ANOMALY = """
WITH scanned AS (
  SELECT user_id, event_id, value,
         count(value) OVER w AS n,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sd
  FROM events
  WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, round(value, 4) AS value,
       CASE WHEN n >= 10 AND sd > 0 THEN round((value - mu) / sd, 4) ELSE 0.0 END AS zscore,
       (n >= 10 AND sd > 0 AND abs((value - mu) / sd) > 2.0) AS is_anomaly
FROM scanned
"""


_REGISTRY.update({"inv_st_anomaly_zscore": (q_st_anomaly, SQL_ST_ANOMALY)})


def q_w_rolling_median(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf).select("symbol", "d", "close")
    w = series_window(time_col="d")
    out = indicators.add_rolling_median(b, period=21, w=w)
    return out.select("symbol", "d", F.round("close", 6).alias("close"), F.round("median_21", 6).alias("median_21"))


SQL_W_ROLLING_MEDIAN = f"""
WITH {BARS_SQL}
SELECT symbol, d, round(close, 6) AS close,
  round(CASE WHEN count(close) OVER w = 21 THEN median(close) OVER w END, 6) AS median_21
FROM bars
WINDOW w AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
"""


def q_x_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import features

    o = load_table(spark, sf, "orders")
    out = features.winsorize(o, "o_totalprice", 0.05, 0.95, by="o_orderpriority")
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 4).alias("o_totalprice"),
        F.round("o_totalprice_wins", 4).alias("winsorized"),
    )


SQL_X_WINSORIZE = """
WITH bounds AS (
  SELECT o_orderpriority AS pr,
         quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders GROUP BY 1
)
SELECT o_orderkey, o_orderpriority, round(o_totalprice, 4) AS o_totalprice,
       round(least(greatest(o_totalprice, lo), hi), 4) AS winsorized
FROM orders JOIN bounds ON o_orderpriority = pr
"""


_REGISTRY.update(
    {
        "inv_w_rolling_median": (q_w_rolling_median, SQL_W_ROLLING_MEDIAN),
        "inv_x_winsorize": (q_x_winsorize, SQL_X_WINSORIZE),
    }
)


def q_s_statement_udtf(spark: SparkSession, sf: str) -> DataFrame:
    """UDTF surface: semi-structured statement lines (synthesized from
    lineitem, like the Vietnamese-parser fixture) exploded to long-form
    (metric, value) rows by a Python UDTF via LATERAL."""
    from market_data_pipeline_spark.functions.parsing import statement_lines_udtf

    spark.udtf.register("parse_statement_line", statement_lines_udtf())
    li = load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 1000)
    li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            F.lit("Qty: "), F.col("l_quantity").cast("string"),
            F.lit("; Disc: "), F.col("l_discount").cast("string"),
            F.lit("; Tax: "), F.col("l_tax").cast("string"),
            F.lit("; Note: n/a"),
        ).alias("line"),
    ).createOrReplaceTempView("__stmt_lines")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, m.metric, round(m.value, 6) AS value
        FROM __stmt_lines, LATERAL parse_statement_line(line) m
        """
    )


SQL_S_STATEMENT_UDTF = """
WITH lines AS (
  SELECT l_orderkey, l_linenumber,
         'Qty: ' || CAST(l_quantity AS VARCHAR) || '; Disc: ' || CAST(l_discount AS VARCHAR)
         || '; Tax: ' || CAST(l_tax AS VARCHAR) || '; Note: n/a' AS line
  FROM lineitem WHERE l_orderkey <= 1000
),
parts AS (
  SELECT l_orderkey, l_linenumber, unnest(string_split(line, ';')) AS part FROM lines
)
SELECT l_orderkey, l_linenumber,
       lower(trim(string_split(part, ':')[1])) AS metric,
       round(TRY_CAST(trim(string_split(part, ':')[2]) AS DOUBLE), 6) AS value
FROM parts
WHERE contains(part, ':') AND TRY_CAST(trim(string_split(part, ':')[2]) AS DOUBLE) IS NOT NULL
"""


_REGISTRY.update({"inv_s_statement_udtf": (q_s_statement_udtf, SQL_S_STATEMENT_UDTF)})


def q_x_balanced_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Class-balanced downsampling: at most 50 docs per language, chosen by
    deterministic Knuth-hash order — the class-rebalancing curation step."""
    from market_data_pipeline_spark.operators import features

    d = load_table(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return features.balanced_downsample(d, by="lang", cap=50, key="doc_id")


SQL_X_BALANCED = """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang, n_chars FROM ranked WHERE rn <= 50
"""


def q_x_stratified_rates(spark: SparkSession, sf: str) -> DataFrame:
    """Per-class sampling fractions: thin finished/open orders to 10%, keep
    all pending ones — mixture-weighted corpus quota as a shuffle-free
    projection."""
    from market_data_pipeline_spark.operators import features

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    out = features.stratified_sample_rates(
        o, by="o_orderstatus", rates={"F": 0.1, "O": 0.1}, key="o_orderkey", default_rate=1.0
    )
    return out.select("o_orderkey", "o_orderstatus", F.round("o_totalprice", 4).alias("o_totalprice"))


SQL_X_STRATIFIED = """
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS o_totalprice
FROM orders
WHERE (o_orderkey * 2654435761) % 10000
      < CAST(10000 * (CASE o_orderstatus WHEN 'F' THEN 0.1 WHEN 'O' THEN 0.1 ELSE 1.0 END) AS BIGINT)
"""


def q_x_standardize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group z-score feature scaling: one agg pass broadcast back —
    the fact table is never sorted; pairs with inv_x_winsorize."""
    from market_data_pipeline_spark.operators import features

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice", "l_quantity"
    )
    out = features.standardize(li, cols=("l_extendedprice", "l_quantity"), by="l_returnflag")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("l_extendedprice_z", 6).alias("price_z"),
        F.round("l_quantity_z", 6).alias("qty_z"),
    )


SQL_X_STANDARDIZE = """
WITH stats AS (
  SELECT l_returnflag AS rf,
         avg(l_extendedprice) AS mu_p, stddev_samp(l_extendedprice) AS sd_p,
         avg(l_quantity) AS mu_q, stddev_samp(l_quantity) AS sd_q
  FROM lineitem GROUP BY 1
)
SELECT l_orderkey, l_linenumber, l_returnflag,
       round((l_extendedprice - mu_p) / nullif(sd_p, 0), 6) AS price_z,
       round((l_quantity - mu_q) / nullif(sd_q, 0), 6) AS qty_z
FROM lineitem JOIN stats ON l_returnflag = rf
"""


_REGISTRY.update(
    {
        "inv_x_balanced_sample": (q_x_balanced_sample, SQL_X_BALANCED),
        "inv_x_stratified_rates": (q_x_stratified_rates, SQL_X_STRATIFIED),
        "inv_x_standardize": (q_x_standardize, SQL_X_STANDARDIZE),
    }
)


def q_q_sketch_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-vs-exact profiling with the accuracy contract IN the result:
    HLL distinct and approx-median per return flag, each flagged ok iff
    within tolerance of the exact value. The oracle pins the exact numbers
    AND expects every ok-flag TRUE — the 100 TB sketch swap is regression-
    guarded by the correctness gate itself."""
    li = load_table(spark, sf, "lineitem")
    return quality.sketch_accuracy(
        li, by="l_returnflag", distinct_col="l_partkey", value_col="l_extendedprice"
    )


SQL_Q_SKETCH = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_distinct,
       TRUE AS hll_ok,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
       TRUE AS p50_ok
FROM lineitem GROUP BY 1
"""


_REGISTRY.update({"inv_q_sketch_accuracy": (q_q_sketch_accuracy, SQL_Q_SKETCH)})


def q_d_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set decontamination audit: per eval doc, fraction of its 3-gram
    shingles present anywhere in the train corpus (dedup.contamination_report
    — train side pre-aggregated to the shingle vocabulary before the join)."""
    return dedup.contamination_report(_docs(spark, sf), eval_mod=20, shingle_n=3)


SQL_D_DECONTAMINATE = f"""
WITH {_SHINGLE_SQL},
ev AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
tr AS (SELECT shingle, count(DISTINCT doc_id) AS n_train_docs
       FROM sh WHERE doc_id % 20 <> 0 GROUP BY shingle)
SELECT ev.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       round(sum(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS contaminated_frac,
       CAST(coalesce(max(tr.n_train_docs), 0) AS BIGINT) AS max_shingle_train_docs
FROM ev LEFT JOIN tr ON ev.shingle = tr.shingle
GROUP BY ev.doc_id
"""


def q_x_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Split-leakage audit over NEAR-dup clusters: LSH pairs → connected
    components (dedup.dup_groups) → clusters spanning more than one
    train/val/test split (dedup.split_leakage) — the eval-integrity check
    that must gate every dataset release."""
    d = _docs(spark, sf)
    groups = dedup.dup_groups(dedup.minhash_lsh_pairs(d, num_hashes=12, bands=4))
    return dedup.split_leakage(d, groups=groups)


SQL_X_SPLIT_LEAKAGE = f"""
WITH RECURSIVE {_SHINGLE_SQL},
{_minhash_sig_sql()},
{_band_sql()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
grp AS (SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id),
s AS (
  SELECT d.doc_id, grp.group_id,
    CASE WHEN (d.doc_id * 2654435761) % 100 < 80 THEN 'train'
         WHEN (d.doc_id * 2654435761) % 100 < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM documents d JOIN grp ON d.doc_id = grp.doc_id
)
SELECT group_id,
       CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
       CAST(count(*) AS BIGINT) AS n_docs,
       array_to_string(list_sort(list(DISTINCT split)), ',') AS splits,
       min(doc_id) AS min_doc_id
FROM s GROUP BY group_id HAVING count(DISTINCT split) > 1
"""


def q_s_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Typed JSON extraction over events.props (SURVEY §2.8 extension):
    ``from_json`` with a pinned schema (vectorized JVM parse, no UDF) plus a
    ``get_json_object`` path probe, rolled up to per-decile counts so the
    parse feeds a real aggregate. The two parse paths must agree —
    ``n_path_parsed`` equals ``n_events`` row for row."""
    e = load_table(spark, sf, "events")
    p = e.select(
        F.from_json("props", "k INT").getField("k").alias("k"),
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
    )
    return (
        p.groupBy(F.floor(F.col("k") / F.lit(10.0)).cast("int").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k_path").alias("n_path_parsed"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


SQL_S_JSON_EXTRACT = """
WITH p AS (
  SELECT try_cast(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
)
SELECT CAST(floor(k / 10.0) AS INTEGER) AS k_decile,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_path_parsed,
       min(k) AS k_min, max(k) AS k_max
FROM p GROUP BY 1
"""


_REGISTRY.update(
    {
        "inv_d_decontaminate": (q_d_decontaminate, SQL_D_DECONTAMINATE),
        "inv_x_split_leakage": (q_x_split_leakage, SQL_X_SPLIT_LEAKAGE),
        "inv_s_json_extract": (q_s_json_extract, SQL_S_JSON_EXTRACT),
    }
)


def q_e_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization of the event stream (behavior.sessionize):
    30-min inactivity splits; one row per (user, session ordinal) with
    start/end/duration/count — the labeling twin of session_window."""
    from market_data_pipeline_spark.operators import behavior

    e = load_table(spark, sf, "events").select("user_id", "ts", "value")
    return behavior.sessionize(e, gap_minutes=30)


SQL_E_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
lab AS (
  SELECT user_id, ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM g
)
SELECT user_id, session_seq,
       min(ts) AS session_start,
       max(ts) AS session_end,
       date_diff('second', min(ts), max(ts)) AS duration_s,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value
FROM lab GROUP BY user_id, session_seq
"""


_REGISTRY.update({"inv_e_sessionize": (q_e_sessionize, SQL_E_SESSIONIZE)})


def q_st_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming sessionization (EventTimeTimeout) with a FULL SQL
    oracle: one availableNow pass emits every session closed by an in-batch
    gap split, plus open sessions timed out by the final watermark — i.e.
    all sessions except each user's last, plus last sessions whose
    ``end + gap`` precedes ``max(ts) − delay``."""
    from market_data_pipeline_spark.streaming import stateful

    ev = streaming_jobs.stream_events(spark, sf).select("user_id", "ts", "value")
    sess = stateful.streaming_sessionize(ev, gap_minutes=30, watermark="10 minutes")
    out = streaming_jobs.run_stream_to_memory(
        spark, sess, "sessionize_stream", output_mode="append"
    )
    return out


SQL_ST_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
lab AS (
  SELECT user_id, ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM g
),
sess AS (
  SELECT user_id, session_seq,
         min(ts) AS session_start,
         max(ts) AS session_end,
         date_diff('second', min(ts), max(ts)) AS duration_s,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 4) AS total_value
  FROM lab GROUP BY user_id, session_seq
),
wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
lastseq AS (SELECT user_id, max(session_seq) AS last_seq FROM sess GROUP BY user_id)
SELECT s.user_id, s.session_seq, s.session_start, s.session_end,
       s.duration_s, s.n_events, s.total_value
FROM sess s JOIN lastseq l ON s.user_id = l.user_id, wm
WHERE s.session_seq < l.last_seq
   OR s.session_end + INTERVAL 30 MINUTE < wm.w
"""


_REGISTRY.update({"inv_st_sessionize": (q_st_sessionize, SQL_ST_SESSIONIZE)})


def q_t_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate n-gram detection by document frequency
    (text.boilerplate_ngrams): trigrams present in ≥1% of all docs."""
    return text.boilerplate_ngrams(_docs(spark, sf), n=3, min_doc_frac=0.01)


SQL_T_BOILERPLATE = f"""
WITH {_SHINGLE_SQL},
tot AS (SELECT count(DISTINCT doc_id) AS total_docs FROM documents),
dfc AS (SELECT shingle, count(DISTINCT doc_id) AS df_docs FROM sh GROUP BY shingle)
SELECT shingle AS ngram, df_docs,
       round(df_docs / CAST(total_docs AS DOUBLE), 6) AS doc_frac
FROM dfc, tot
WHERE df_docs / CAST(total_docs AS DOUBLE) >= 0.01
"""


def q_x_curated_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The capstone curation query — the corpus a training run would
    actually ingest: token-count bounds AND quality-score gate AND one
    canonical doc per near-dup cluster (LSH → components → anti-join
    losers), composed as ONE lazy plan."""
    d = _docs(spark, sf)
    q = text.add_quality_score(text.add_token_stats(d))
    members = dedup.near_dup_members(d, num_hashes=12, bands=4)
    losers = members.filter(F.col("doc_id") != F.col("group_id")).select("doc_id")
    # losers is O(duplicates) — unbounded at corpus dup rates, so no
    # forced broadcast; AQE promotes the anti join when actually small.
    canon = d.join(losers, "doc_id", "left_anti").select("doc_id")
    return (
        q.filter(
            (F.col("n_tokens") >= 10)
            & (F.col("n_tokens") <= 10000)
            & (F.col("quality_score") >= 0.5)
        )
        .join(canon, "doc_id", "left_semi")
        .select("doc_id", "lang", "n_tokens", "quality_score")
    )


SQL_X_CURATED = f"""
WITH RECURSIVE {_SHINGLE_SQL},
{_minhash_sig_sql()},
{_band_sql()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
groups AS (SELECT id AS gdoc, min(r) AS group_id FROM reach GROUP BY id),
kept AS (
  SELECT d.doc_id FROM documents d LEFT JOIN groups g ON d.doc_id = g.gdoc
  WHERE g.gdoc IS NULL OR g.group_id = d.doc_id
),
n AS (SELECT doc_id, lang, {_NORM_SQL} AS nt FROM documents),
s AS (SELECT doc_id, lang, nt, len(string_split(nt, ' ')) AS n_tok,
             {{STOP_HITS}} AS stop_hits FROM n),
r AS (
  SELECT doc_id, lang, n_tok,
         least(length(nt) / 500.0, 1.0) AS len_score,
         round(stop_hits / CAST(greatest(n_tok, 1) AS DOUBLE), 6) AS stopword_ratio
  FROM s
)
SELECT r.doc_id, r.lang, CAST(n_tok AS INT) AS n_tokens,
       round(0.5 * len_score + 0.5 * least(stopword_ratio * 5.0, 1.0) + 1e-9, 6) AS quality_score
FROM r JOIN kept ON r.doc_id = kept.doc_id
WHERE n_tok BETWEEN 10 AND 10000
  AND round(0.5 * len_score + 0.5 * least(stopword_ratio * 5.0, 1.0) + 1e-9, 6) >= 0.5
""".replace("{STOP_HITS}", _stop_hits_sql())


_REGISTRY.update(
    {
        "inv_t_boilerplate": (q_t_boilerplate, SQL_T_BOILERPLATE),
        "inv_x_curated_corpus": (q_x_curated_corpus, SQL_X_CURATED),
    }
)


_TS_QUERY = [1.0, 0.9, 0.8, 0.9, 1.0, 1.1]


def q_sim_ts_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series pattern search (similarity.ts_pattern_topk): top-25
    z-normalized matches of a 6-bar V-shape across every symbol's daily
    closes — pure window expressions, TakeOrderedAndProject top-k."""
    return similarity.ts_pattern_topk(
        _bars(spark, sf).select("symbol", F.col("d"), "close"),
        query=_TS_QUERY,
        k=25,
        time_col="d",
    )


def _ts_pattern_sql(query: list[float], k: int) -> str:
    m = len(query)
    mu_q = sum(query) / m
    sd_q = (sum((x - mu_q) ** 2 for x in query) / (m - 1)) ** 0.5
    qz = [(x - mu_q) / sd_q for x in query]
    leads = ",\n    ".join(
        f"lead(close, {j}) OVER o AS v{j}" for j in range(m)
    )
    terms = " + ".join(
        f"power((v{j} - mu) / sd - ({qz[j]!r}), 2)" for j in range(m)
    )
    return f"""
WITH {BARS_SQL},
w AS (
  SELECT symbol, d AS win_start,
    avg(close) OVER f AS mu,
    stddev_samp(close) OVER f AS sd,
    count(close) OVER f AS n,
    {leads}
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY d),
         f AS (PARTITION BY symbol ORDER BY d
               ROWS BETWEEN CURRENT ROW AND {m - 1} FOLLOWING)
)
SELECT symbol, win_start, round({terms}, 6) AS dist
FROM w
WHERE n = {m} AND sd > 0
ORDER BY dist, symbol, win_start
LIMIT {k}
"""


SQL_SIM_TS_PATTERN = _ts_pattern_sql(_TS_QUERY, 25)

_REGISTRY.update({"inv_sim_ts_pattern": (q_sim_ts_pattern, SQL_SIM_TS_PATTERN)})


def q_t_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical-LM quality scoring (text.bigram_lm_scores): add-1 bigram
    model trained on the corpus, each doc scored by mean bigram ln-prob."""
    return text.bigram_lm_scores(_docs(spark, sf))


SQL_T_BIGRAM_LM = f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
bi AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)
),
uni AS (
  SELECT w1, count(*) AS c1
  FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY w1
),
v AS (SELECT count(*) AS vv FROM uni),
bic AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2)
SELECT bi.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((cb + 1) / CAST(c1 + vv AS DOUBLE))), 6) AS avg_logprob
FROM bi
JOIN bic ON bi.w1 = bic.w1 AND bi.w2 = bic.w2
JOIN uni ON bi.w1 = uni.w1, v
GROUP BY bi.doc_id
"""


_MIXTURE_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.1}
_MIXTURE_TOTAL = 1_000_000


def q_x_mixture_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixture planning (features.mixture_plan): token budget split by
    target weights → per-source sampling rate and epoch count."""
    from market_data_pipeline_spark.operators import features

    d = text.add_token_stats(_docs(spark, sf)).select("doc_id", "source", "n_tokens")
    return features.mixture_plan(d, _MIXTURE_WEIGHTS, _MIXTURE_TOTAL)


def _mixture_sql(weights: dict[str, float], total: int) -> str:
    cases = " ".join(f"WHEN '{k}' THEN {v!r}" for k, v in weights.items())
    return f"""
WITH n AS (
  SELECT doc_id, source, len(string_split({_NORM_SQL}, ' ')) AS n_tokens
  FROM documents
),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS available_tokens
  FROM n GROUP BY source
),
w AS (
  SELECT *, CAST(CASE source {cases} ELSE 0.0 END AS DOUBLE) AS weight FROM per
)
SELECT source, n_docs, available_tokens, weight,
       CAST(round(weight * {total}.0, 0) AS BIGINT) AS target_tokens,
       round(CAST(round(weight * {total}.0, 0) AS BIGINT) / CAST(available_tokens AS DOUBLE), 6) AS sample_rate,
       CAST(ceil(CAST(round(weight * {total}.0, 0) AS BIGINT) / CAST(available_tokens AS DOUBLE)) AS INTEGER) AS epochs
FROM w
"""


SQL_X_MIXTURE = _mixture_sql(_MIXTURE_WEIGHTS, _MIXTURE_TOTAL)

_REGISTRY.update(
    {
        "inv_t_bigram_lm": (q_t_bigram_lm, SQL_T_BIGRAM_LM),
        "inv_x_mixture_plan": (q_x_mixture_plan, SQL_X_MIXTURE),
    }
)


def q_x_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing (features.pack_sequences): chunks → fixed-budget
    bins by bucketed first-fit-decreasing. FULLY oracle-checked since
    round 3: the greedy loop is sequential per bucket, but a DuckDB
    RECURSIVE CTE replays it exactly — per-bucket bin-fill state travels
    as a BIGINT[] column, one item admitted per recursion step, first-fit
    index via list_position over the fills. Invariants additionally
    pytest-pinned (every item exactly once, no bin over budget)."""
    from market_data_pipeline_spark.operators import features

    d = text.add_token_stats(_docs(spark, sf)).select("doc_id", "n_tokens")
    return features.pack_sequences(d, budget=256)


def _pack_sequences_sql(budget: int = 256, buckets: int = 32) -> str:
    """Recursive-CTE twin of the bucketed FFD packer: items ranked
    (size desc, id asc) within their Knuth bucket; each recursion step
    admits the next item per bucket, updating that bucket's fills list —
    oversize items close a singleton bin at exactly ``budget`` fill, the
    same convention the pandas kernel uses. nullif(…, 0) because DuckDB
    list_position returns 0, not NULL, on no match."""
    pos = (
        f"nullif(list_position(list_transform(s.fills,"
        f" f -> f + i.n_tokens <= {budget}), true), 0)"
    )
    return f"""
WITH RECURSIVE
nt AS (SELECT doc_id, CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tokens FROM documents),
r AS (
  SELECT doc_id, n_tokens, (doc_id * 2654435761) % {buckets} AS bucket,
         CAST(row_number() OVER (PARTITION BY (doc_id * 2654435761) % {buckets}
                                 ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rk
  FROM nt
),
steps AS (
  SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS rk,
         CAST([] AS BIGINT[]) AS fills,
         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens,
         CAST(NULL AS BIGINT) AS bin_pos, FALSE AS oversize
  FROM r
  UNION ALL
  SELECT s.bucket, s.rk + 1,
    CASE
      WHEN i.n_tokens > {budget} THEN list_append(s.fills, CAST({budget} AS BIGINT))
      WHEN {pos} IS NULL THEN list_append(s.fills, i.n_tokens)
      ELSE list_concat(list_concat(
             list_slice(s.fills, 1, {pos} - 1),
             [s.fills[CAST({pos} AS INT)] + i.n_tokens]),
             list_slice(s.fills, {pos} + 1, len(s.fills)))
    END AS fills,
    i.doc_id, i.n_tokens,
    CASE
      WHEN i.n_tokens > {budget} THEN len(s.fills) + 1
      WHEN {pos} IS NULL THEN len(s.fills) + 1
      ELSE {pos}
    END AS bin_pos,
    i.n_tokens > {budget} AS oversize
  FROM steps s JOIN r i ON i.bucket = s.bucket AND i.rk = s.rk + 1
)
SELECT doc_id, n_tokens, CAST(bucket * 1000000000 + (bin_pos - 1) AS BIGINT) AS bin_id, oversize
FROM steps WHERE doc_id IS NOT NULL
"""


_REGISTRY.update({"inv_x_pack_sequences": (q_x_pack_sequences, _pack_sequences_sql())})


def q_u_bag_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Bag-semantics set ops (U ext): EXCEPT ALL / INTERSECT ALL over
    multisets of order keys (an order key repeats per lineitem) —
    multiplicity must survive, which DISTINCT-based set ops destroy.
    Spark physical: both rewrite to a count-diff aggregation + generate."""
    li = load_table(spark, sf, "lineitem")
    disc = li.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    taxed = li.filter(F.col("l_tax") > 0.05).select("l_orderkey")
    ex = (
        disc.exceptAll(taxed)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("except_all"))
    )
    inter = (
        disc.intersectAll(taxed)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    return ex.unionByName(inter)


SQL_U_BAG = """
WITH disc AS (SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05),
taxed AS (SELECT l_orderkey FROM lineitem WHERE l_tax > 0.05),
ex AS (SELECT l_orderkey FROM disc EXCEPT ALL SELECT l_orderkey FROM taxed),
inter AS (SELECT l_orderkey FROM disc INTERSECT ALL SELECT l_orderkey FROM taxed)
SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n, 'except_all' AS op
FROM ex GROUP BY l_orderkey
UNION ALL
SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n, 'intersect_all' AS op
FROM inter GROUP BY l_orderkey
"""

_REGISTRY.update({"inv_u_bag_set_ops": (q_u_bag_set_ops, SQL_U_BAG)})


def q_q_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min-sketch heavy hitters (quality.cms_heavy_hitters): every
    user whose CMS estimate (min over 4 deterministic hash rows of a
    4×1024 counter table) reaches the threshold, alongside the exact
    count. The multiply-shift hash family is engine-portable, so the
    oracle rebuilds the identical sketch in SQL — estimates match
    exactly, and the no-false-negative property is an output column."""
    e = load_table(spark, sf, "events")
    return quality.cms_heavy_hitters(
        e.select("user_id"), "user_id", width=1024, depth=4, min_count=50
    )


def _cms_sql(width: int = 1024, depth: int = 4, min_count: int = 50) -> str:
    seeds = ", ".join(
        f"({r}, {quality._CMS_SEEDS[r]})" for r in range(depth)
    )
    return f"""
WITH seeds(row, seed) AS (VALUES {seeds}),
counters AS (
  -- double-mod = Spark pmod (the NULL sentinel is negative; DuckDB % is
  -- remainder, not modulus)
  SELECT s.row,
         (((coalesce(e.user_id, {quality._CMS_NULL_SENTINEL}) * {quality._CMS_KNUTH} + s.seed) % {width}) + {width}) % {width} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events e CROSS JOIN seeds s GROUP BY 1, 2
),
exact AS (SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id),
est AS (
  SELECT x.user_id, x.exact_count, min(c.cnt) AS cms_estimate
  FROM exact x CROSS JOIN seeds s
  JOIN counters c
    ON c.row = s.row
   AND c.bucket = (((coalesce(x.user_id, {quality._CMS_NULL_SENTINEL}) * {quality._CMS_KNUTH} + s.seed) % {width}) + {width}) % {width}
  GROUP BY 1, 2
)
SELECT user_id, cms_estimate, CAST(exact_count AS BIGINT) AS exact_count,
       cms_estimate >= exact_count AS never_undercounts
FROM est WHERE cms_estimate >= {min_count}
"""


def q_q_sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical distinct counting by sketch UNION (quality.
    sketch_rollup_distinct): one HLL sketch per (day) grain, weekly
    distinct users answered by merging day sketches — the fact table is
    scanned once; the oracle pins exact counts and expects the union
    estimate inside 5%."""
    e = load_table(spark, sf, "events")
    return quality.sketch_rollup_distinct(
        e,
        F.to_date("ts"),
        F.date_trunc("week", "ts").cast("date"),
        "user_id",
        tol=0.05,
    ).orderBy("period")


SQL_Q_SKETCH_ROLLUP = """
SELECT CAST(date_trunc('week', ts) AS DATE) AS period,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_fine_grains,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS union_ok
FROM events
GROUP BY 1 ORDER BY 1
"""

_REGISTRY.update({"inv_q_sketch_rollup": (q_q_sketch_rollup, SQL_Q_SKETCH_ROLLUP)})
_REGISTRY.update({"inv_q_cms_heavy_hitters": (q_q_cms_heavy_hitters, _cms_sql())})


def q_q_hll_portable(spark: SparkSession, sf: str) -> DataFrame:
    """Portable HyperLogLog distinct sketch (quality.hll_portable_distinct):
    per-event-type distinct-user estimates PLUS the '__ALL__' row answered
    by merging the per-type sketches register-wise — unlike the
    DataSketches rollup (inv_q_sketch_rollup, tolerance-checked), every
    register, the exact Σ2^-M, and the estimate itself are bit-reproducible
    in SQL, so the sketch is FULL-value-oracle-checked (rho via binary
    string length — no float log in the register path)."""
    e = load_table(spark, sf, "events")
    return quality.hll_portable_distinct(e, "event_type", "user_id")


def _hll_hash_ctes(key_expr: str, src: str, label: str = "scope") -> str:
    """Shared CTE chain rebuilding quality._hll_fields' xor-shift-finalized
    hash in SQL (each stage a column so nothing inlines exponentially)."""
    knuth, seed = quality._CMS_KNUTH, quality._CMS_SEEDS[0]
    mult = quality._CMS_SEEDS[2]
    sent = quality._CMS_NULL_SENTINEL
    return f"""f0 AS (
  SELECT {label},
         (((coalesce({key_expr}, {sent}) * {knuth} + {seed}) % 2147483648)
          + 2147483648) % 2147483648 AS h0
  FROM {src}
),
f1 AS (SELECT {label}, xor(h0, h0 >> 15) AS h1 FROM f0),
f2 AS (
  SELECT {label},
         (((h1 * {mult}) % 2147483648) + 2147483648) % 2147483648 AS h2
  FROM f1
),
f AS (SELECT {label}, xor(h2, h2 >> 13) AS h FROM f2)"""


def _hll_sql() -> str:
    m = quality._HLL_M
    wb1 = quality._HLL_WBITS + 1
    return f"""
WITH ev AS (SELECT event_type AS scope, user_id FROM events),
{_hll_hash_ctes("user_id", "ev", "scope")},
r AS (
  SELECT scope, CAST(h % {m} AS INT) AS bucket,
         CASE WHEN h // {m} = 0 THEN {wb1}
              ELSE {wb1} - length(bin((h // {m})::BIGINT)) END AS rho
  FROM f
),
regs AS (SELECT scope, bucket, max(rho) AS reg FROM r GROUP BY 1, 2),
allregs AS (
  SELECT scope, bucket, reg FROM regs
  UNION ALL
  SELECT '__ALL__' AS scope, bucket, max(reg) AS reg FROM regs GROUP BY 2
),
summ AS (
  SELECT scope, CAST(count(*) AS INT) AS v_set,
         sum(CAST(1 AS DOUBLE) / CAST((1::BIGINT << reg) AS DOUBLE))
           + CAST({m} - count(*) AS DOUBLE) AS sum_inv
  FROM allregs GROUP BY 1
),
exact AS (
  SELECT coalesce(event_type, '__ALL__') AS scope,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY ROLLUP(event_type)
),
est AS (
  SELECT s.scope, s.v_set, s.sum_inv, e.exact_distinct,
         CASE WHEN CAST(0.709 AS DOUBLE) * {m * m} / s.sum_inv
                     <= CAST(2.5 AS DOUBLE) * {m}
                AND s.v_set < {m}
              THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE)
                                            / CAST({m} - s.v_set AS DOUBLE))
              ELSE CAST(0.709 AS DOUBLE) * {m * m} / s.sum_inv END AS raw
  FROM summ s JOIN exact e USING (scope)
)
SELECT scope, v_set, sum_inv, round(raw + 1e-9, 6) AS hll_estimate,
       exact_distinct,
       abs(raw - exact_distinct) <= exact_distinct * CAST(0.40 AS DOUBLE) AS err_ok
FROM est
"""


_REGISTRY.update({"inv_q_hll_portable": (q_q_hll_portable, _hll_sql())})


def q_q_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-moment profile (quality.moment_profile): per return
    flag, mean / population variance / skewness / excess kurtosis of the
    order quantity — from decimal-exact power sums with a pinned IEEE
    expression tree (built-in skewness()/kurtosis() differ across engines
    on sample adjustments; power sums have one definition)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    return quality.moment_profile(li, "l_returnflag", "qty")


SQL_Q_MOMENTS = """
WITH q AS (
  SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS x FROM lineitem
),
s AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_raw,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS s1, CAST(sum(x * x) AS DOUBLE) AS s2,
         CAST(sum(x * x * x) AS DOUBLE) AS s3,
         CAST(sum(x * x * x * x) AS DOUBLE) AS s4
  FROM q GROUP BY 1
),
m AS (
  SELECT l_returnflag, n_raw, s1 / n AS mean,
         s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
  FROM s
),
mm AS (
  SELECT l_returnflag, n_raw, mean,
         r2 - (mean * mean) AS m2,
         (r3 - ((3.0 * mean) * r2)) + (2.0 * ((mean * mean) * mean)) AS m3,
         ((r4 - ((4.0 * mean) * r3)) + ((6.0 * (mean * mean)) * r2))
           - (3.0 * ((mean * mean) * (mean * mean))) AS m4
  FROM m
)
SELECT l_returnflag, n_raw AS n,
       round(mean + 1e-9, 6) AS mean,
       round(m2 + 1e-9, 6) AS variance_pop,
       round(m3 / (m2 * sqrt(m2)) + 1e-9, 6) AS skewness,
       round((m4 / (m2 * m2)) - 3.0 + 1e-9, 6) AS kurtosis_excess
FROM mm
"""


def q_x_robust_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Robust MAD outlier profile (anomaly.mad_outliers): per event type,
    median / MAD / modified-z outlier count at the Iglewicz–Hoaglin 3.5
    cutoff — the robust twin of inv_x_anomaly_zscore (a wild value
    inflates a std enough to hide itself; median/MAD doesn't flinch)."""
    from market_data_pipeline_spark.operators import anomaly

    e = load_table(spark, sf, "events").select("event_type", "value")
    return anomaly.mad_outliers(e, "event_type", "value")


SQL_X_ROBUST_ANOMALY = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY 1
),
f AS (
  SELECT e.event_type, m.med, d.mad,
         CASE WHEN d.mad > 0 AND abs(0.6745 * (e.value - m.med) / d.mad) > 3.5
              THEN 1 ELSE 0 END AS o
  FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(med + 1e-9, 6) AS median, round(mad + 1e-9, 6) AS mad,
       CAST(sum(o) AS BIGINT) AS n_outliers
FROM f GROUP BY event_type, med, mad
"""


_REGISTRY.update(
    {
        "inv_q_moments": (q_q_moments, SQL_Q_MOMENTS),
        "inv_x_robust_anomaly": (q_x_robust_anomaly, SQL_X_ROBUST_ANOMALY),
    }
)


def q_q_hll_setops(spark: SparkSession, sf: str) -> DataFrame:
    """HLL sketch algebra (quality.hll_intersection_estimate): for every
    pair of order priorities, the union estimate by register-wise max and
    the intersection by inclusion–exclusion — segment-overlap questions
    answered from per-group sketches without a per-pair fact rescan. The
    contract bounds the intersection error by tol·exact_union."""
    o = load_table(spark, sf, "orders").select("o_orderpriority", "o_custkey")
    return quality.hll_intersection_estimate(o, "o_orderpriority", "o_custkey")


def _hll_setops_sql() -> str:
    m = quality._HLL_M
    wb1 = quality._HLL_WBITS + 1
    inv = "CAST(1 AS DOUBLE) / CAST((1::BIGINT << reg) AS DOUBLE)"
    est = (
        f"CASE WHEN CAST(0.709 AS DOUBLE) * {m * m} / sum_inv"
        f"            <= CAST(2.5 AS DOUBLE) * {m} AND v < {m}"
        f"     THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE)"
        f"                                   / CAST({m} - v AS DOUBLE))"
        f"     ELSE CAST(0.709 AS DOUBLE) * {m * m} / sum_inv END"
    )
    return f"""
WITH o2 AS (SELECT o_orderpriority AS g, o_custkey FROM orders),
{_hll_hash_ctes("o_custkey", "o2", "g")},
r AS (
  SELECT g, CAST(h % {m} AS INT) AS bucket,
         CASE WHEN h // {m} = 0 THEN {wb1}
              ELSE {wb1} - length(bin((h // {m})::BIGINT)) END AS rho
  FROM f
),
regs AS (SELECT g, bucket, max(rho) AS reg FROM r GROUP BY 1, 2),
single AS (
  SELECT g, sum({inv}) + CAST({m} - count(*) AS DOUBLE) AS sum_inv,
         CAST(count(*) AS INT) AS v
  FROM regs GROUP BY 1
),
se AS (SELECT g, {est} AS est FROM single),
pairs AS (
  SELECT a.g AS ga, b.g AS gb, a.est AS est_a, b.est AS est_b
  FROM se a JOIN se b ON a.g < b.g
),
uregs AS (
  SELECT p.ga, p.gb, rg.bucket, max(rg.reg) AS reg
  FROM (SELECT ga, gb FROM pairs) p JOIN regs rg ON rg.g = p.ga OR rg.g = p.gb
  GROUP BY 1, 2, 3
),
usum AS (
  SELECT ga, gb, sum({inv}) + CAST({m} - count(*) AS DOUBLE) AS sum_inv,
         CAST(count(*) AS INT) AS v
  FROM uregs GROUP BY 1, 2
),
ue AS (SELECT ga, gb, {est} AS est_union FROM usum),
keys AS (SELECT DISTINCT o_orderpriority AS g, o_custkey AS k FROM orders),
ei AS (
  SELECT a.g AS ga, b.g AS gb, count(DISTINCT a.k) AS exact_intersection
  FROM keys a JOIN keys b ON a.k = b.k AND a.g < b.g GROUP BY 1, 2
),
eu AS (
  SELECT p.ga, p.gb, count(DISTINCT k.k) AS exact_union
  FROM (SELECT ga, gb FROM pairs) p JOIN keys k ON k.g = p.ga OR k.g = p.gb
  GROUP BY 1, 2
)
SELECT ga AS group_a, gb AS group_b,
       round(est_a + 1e-9, 6) AS est_a, round(est_b + 1e-9, 6) AS est_b,
       round(est_union + 1e-9, 6) AS est_union,
       round(((est_a + est_b) - est_union) + 1e-9, 6) AS est_intersection,
       CAST(coalesce(exact_intersection, 0) AS BIGINT) AS exact_intersection,
       CAST(exact_union AS BIGINT) AS exact_union,
       abs(((est_a + est_b) - est_union) - coalesce(exact_intersection, 0))
         <= CAST(0.25 AS DOUBLE) * exact_union AS within_bound
FROM pairs JOIN ue USING (ga, gb)
LEFT JOIN ei USING (ga, gb)
JOIN eu USING (ga, gb)
"""


_REGISTRY.update({"inv_q_hll_setops": (q_q_hll_setops, _hll_setops_sql())})


def q_a_vw_index(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-sectional index construction: per day, the volume-weighted and
    equal-weighted index levels over every symbol's close — the market-level
    series the reference fetches pre-built as VNINDEX
    (breadth_extractor.py:72-84) but this engine DERIVES from the bar table
    (one groupBy(day), map-side combined; output O(days))."""
    b = _bars(spark, sf)
    return (
        b.groupBy("d")
        .agg(
            F.round(
                F.sum(F.col("close") * F.col("volume")) / F.sum("volume"), 6
            ).alias("vw_index"),
            F.round(F.avg("close"), 6).alias("ew_index"),
            F.count(F.lit(1)).alias("n_symbols"),
        )
    )


SQL_A_VW_INDEX = f"""
WITH {BARS_SQL}
SELECT d,
       round(sum(close * volume) / sum(volume), 6) AS vw_index,
       round(avg(close), 6) AS ew_index,
       CAST(count(*) AS BIGINT) AS n_symbols
FROM bars GROUP BY d
"""

_REGISTRY.update({"inv_a_vw_index": (q_a_vw_index, SQL_A_VW_INDEX)})


# ---------------------------------------------------------------------------
# Round-2: driver-visible evidence for the rows-only family (r1 verdict #7).
# inv_m_media_features gains a FULL DuckDB oracle (the mapInPandas decode
# path emits engine-portable features); simhash / kmeans / packing get
# companion invariant queries whose every output value IS SQL-computable.
# ---------------------------------------------------------------------------

# Full oracle for the media feature extraction: byte_mean re-derived in pure
# SQL from the hex expansion of the UTF-8 payload (range-join, no lateral),
# head_hash as md5 over the UPPERCASE hex of the first 64 bytes — the same
# definition the pandas kernel uses, so the hash comparison is exact.
SQL_M_FEATURES = f"""
WITH m AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS h FROM documents
),
g AS (SELECT range AS i FROM range(0, 1000000)),
b AS (
  SELECT m.media_id, {_sql_byte_at('m.h', 'g.i')} AS byte
  FROM m JOIN g ON g.i < length(m.h) / 2
),
a AS (SELECT media_id, round(avg(byte) + 1e-9, 6) AS byte_mean FROM b GROUP BY media_id)
SELECT m.media_id,
       CAST(length(m.h) / 2 AS BIGINT) AS n_bytes,
       a.byte_mean,
       md5(substr(m.h, 1, 128)) AS head_hash
FROM m LEFT JOIN a USING (media_id)
"""

_REGISTRY["inv_m_media_features"] = (_REGISTRY["inv_m_media_features"][0], SQL_M_FEATURES)


def q_d_simhash_stats(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash companion (r1 verdict #7): every value SQL-checkable. Two
    docs with identical NORMALIZED text have identical 64-bit simhash, share
    every 16-bit chunk, bucket together, and pass hamming=0 — so the pair
    set must contain EXACTLY the identical-text pairs among its hamming=0
    entries; ordering and radius are output invariants."""
    d = _docs(spark, sf)
    pairs = dedup.simhash_near_pairs(d, max_hamming=8)
    norm = d.select("doc_id", text.normalized(F.col("text")).alias("__n"))
    joined = (
        pairs.join(norm.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("__n", "na"), "doc_a")
        .join(norm.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("__n", "nb"), "doc_b")
    )
    # invariants coalesce to TRUE on an empty pair set and never depend on
    # where the corpus' densest pair happens to sit — the oracle's literals
    # hold for ANY regenerated testdata
    return joined.agg(
        F.count(F.when(F.col("na") == F.col("nb"), 1)).alias("n_exact_pairs"),
        F.coalesce(F.min(F.col("doc_a") < F.col("doc_b")), F.lit(True)).alias(
            "all_ordered"
        ),
        F.coalesce(F.min(F.col("hamming") <= 8), F.lit(True)).alias(
            "within_radius"
        ),
        F.coalesce(
            F.min((F.col("na") != F.col("nb")) | (F.col("hamming") == 0)),
            F.lit(True),
        ).alias("exact_implies_ham0"),
    )


SQL_D_SIMHASH_STATS = f"""
WITH n AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
SELECT (SELECT count(*) FROM n a JOIN n b ON a.t = b.t AND a.doc_id < b.doc_id)
         AS n_exact_pairs,
       TRUE AS all_ordered,
       TRUE AS within_radius,
       TRUE AS exact_implies_ham0
"""


def q_v_kmeans_stats(spark: SparkSession, sf: str) -> DataFrame:
    """k-means companion (r1 verdict #7): the SQL-expressible projection of
    the Lloyd fit — every embedding assigned exactly once to a valid
    cluster id, and the assignment distance is finite. Exact numeric parity
    of the iterate lives in tests/test_kmeans.py (numpy twin)."""
    e = load_table(spark, sf, "embeddings")
    assign, _cents, _iters = similarity.kmeans_fit(e, k=8, max_iter=6)
    return assign.agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.count_distinct(F.col("vec_id")).alias("n_distinct_ids"),
        F.min(
            (F.col("cluster") >= 0) & (F.col("cluster") < 8)
        ).alias("clusters_valid"),
        (F.count_distinct(F.col("cluster")) <= 8).alias("k_bounded"),
    )


SQL_V_KMEANS_STATS = """
SELECT CAST(count(*) AS BIGINT) AS n_assigned,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_distinct_ids,
       TRUE AS clusters_valid,
       TRUE AS k_bounded
FROM embeddings
"""


def q_x_pack_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Packing companion (r1 verdict #7): the bin assignment is greedy (not
    SQL), but conservation and capacity are exact SQL facts — every chunk
    packed exactly once, token mass conserved, oversize flagging matches
    the budget predicate, and NO bin exceeds the budget."""
    from market_data_pipeline_spark.operators import features

    d = text.add_token_stats(_docs(spark, sf)).select("doc_id", "n_tokens")
    packed = features.pack_sequences(d, budget=256)
    per_bin = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.max(F.col("oversize").cast("int")).alias("has_oversize"),
    )
    bins_ok = per_bin.agg(
        F.min(
            (F.col("has_oversize") == 1) | (F.col("fill") <= 256)
        ).alias("bins_within_budget"),
    )
    totals = packed.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.count_distinct("doc_id").alias("n_distinct_items"),
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.when(F.col("oversize"), 1)).alias("n_oversize"),
    )
    return totals.crossJoin(bins_ok.select("bins_within_budget"))


SQL_X_PACK_STATS = f"""
WITH n AS (
  SELECT doc_id, len(string_split({_NORM_SQL}, ' ')) AS n_tokens FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_items,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_items,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(CASE WHEN n_tokens > 256 THEN 1 END) AS BIGINT) AS n_oversize,
       TRUE AS bins_within_budget
FROM n
"""

_REGISTRY.update(
    {
        "inv_d_simhash_stats": (q_d_simhash_stats, SQL_D_SIMHASH_STATS),
        "inv_v_kmeans_stats": (q_v_kmeans_stats, SQL_V_KMEANS_STATS),
        "inv_x_pack_stats": (q_x_pack_stats, SQL_X_PACK_STATS),
    }
)


# ---------------------------------------------------------------------------
# Round-2 surface extensions: corporate-action adjustment (the raw-print
# ingestion operator vnstock never needed) and Wilder-smoothed RSI (the
# ewm-recursive variant SURVEY §7.2 flags beside EMA).
# ---------------------------------------------------------------------------


def q_w_adj_close(spark: SparkSession, sf: str) -> DataFrame:
    """Backward split adjustment (indicators.add_adjusted_close): synthetic
    deterministic action set (2:1 split on every first-of-month bar day),
    adj = close × ∏ later factors via the exp-sum-ln cumprod window."""
    b = _bars(spark, sf).select("symbol", "d", "close")
    actions = b.filter(F.dayofmonth("d") == 1).select(
        "symbol", "d", F.lit(0.5).alias("factor")
    )
    out = indicators.add_adjusted_close(b, actions)
    return out.select(
        "symbol", "d", "close", F.round("adj_close", 6).alias("adj_close")
    )


SQL_W_ADJ_CLOSE = f"""
WITH {BARS_SQL},
a AS (SELECT symbol, d, 0.5 AS factor FROM bars WHERE day(d) = 1),
j AS (
  SELECT b.symbol, b.d, b.close, coalesce(a.factor, 1.0) AS f
  FROM bars b LEFT JOIN a USING (symbol, d)
)
SELECT symbol, d, close,
  round(close * exp(coalesce(sum(ln(f)) OVER (
    PARTITION BY symbol ORDER BY d
    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0.0)), 6) AS adj_close
FROM j
"""


def q_w3b_rsi_wilder(spark: SparkSession, sf: str) -> DataFrame:
    """Wilder-smoothed RSI (indicators.add_rsi_wilder): recursive
    ewm(alpha=1/14) over clipped deltas; oracle is a recursive CTE running
    the identical recursion (same discipline as the EMA twin)."""
    s = _series(spark, sf).select("symbol", "time", "close")
    out = indicators.add_rsi_wilder(s, period=14)
    return out.select(
        "symbol", "time", F.round("rsi_wilder", 4).alias("rsi_wilder")
    )


SQL_W3B_RSI_WILDER = f"""
WITH RECURSIVE {SERIES_SQL},
numbered AS (
  SELECT symbol, time, close,
         row_number() OVER (PARTITION BY symbol ORDER BY time) AS rn
  FROM series
),
dl AS (
  SELECT *, close - lag(close) OVER (PARTITION BY symbol ORDER BY time) AS delta
  FROM numbered
),
gl AS (
  SELECT symbol, time, rn,
         CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS g,
         CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS l
  FROM dl
),
rec AS (
  SELECT symbol, time, rn, g AS eg, l AS el FROM gl WHERE rn = 2
  UNION ALL
  SELECT n.symbol, n.time, n.rn,
         (1.0/14)*n.g + (1 - 1.0/14)*r.eg,
         (1.0/14)*n.l + (1 - 1.0/14)*r.el
  FROM gl n JOIN rec r ON n.symbol = r.symbol AND n.rn = r.rn + 1
)
SELECT s.symbol, s.time,
  round(CASE WHEN r.rn >= 15 THEN
          CASE WHEN r.el = 0 THEN 100.0
               ELSE 100.0 - 100.0/(1.0 + r.eg/r.el) END
        END, 4) AS rsi_wilder
FROM numbered s LEFT JOIN rec r ON s.symbol = r.symbol AND s.rn = r.rn
"""

_REGISTRY.update(
    {
        "inv_w_adj_close": (q_w_adj_close, SQL_W_ADJ_CLOSE),
        "inv_w3b_rsi_wilder": (q_w3b_rsi_wilder, SQL_W3B_RSI_WILDER),
    }
)


def q_q_distribution_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus drift (quality.distribution_drift): token-count distribution
    of even- vs odd-id documents on shared 16-bucket edges — smoothed
    symmetric KL + total-variation in one row."""
    d = text.add_token_stats(_docs(spark, sf)).select("doc_id", "n_tokens")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    return quality.distribution_drift(a, b, "n_tokens", bins=16, lo=0.0, hi=512.0)


SQL_Q_DRIFT = f"""
WITH n AS (
  SELECT doc_id, len(string_split({_NORM_SQL}, ' ')) AS n_tokens FROM documents
),
spine AS (SELECT CAST(range AS INT) AS bin FROM range(0, 16)),
ca AS (
  SELECT least(15, greatest(0, CAST(floor(n_tokens / 32.0) AS INT))) AS bin,
         count(*) AS n_a
  FROM n WHERE doc_id % 2 = 0 GROUP BY 1
),
cb AS (
  SELECT least(15, greatest(0, CAST(floor(n_tokens / 32.0) AS INT))) AS bin,
         count(*) AS n_b
  FROM n WHERE doc_id % 2 = 1 GROUP BY 1
),
j AS (
  SELECT spine.bin, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM spine LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)
),
r AS (
  SELECT bin, n_a, n_b,
         (n_a + 0.5) / ((SELECT sum(n_a) FROM j) + 8.0) AS p,
         (n_b + 0.5) / ((SELECT sum(n_b) FROM j) + 8.0) AS q
  FROM j
)
SELECT CAST(sum(n_a) AS BIGINT) AS n_a,
       CAST(sum(n_b) AS BIGINT) AS n_b,
       round(sum(p * ln(p / q)), 6) AS kl_ab,
       round(sum(q * ln(q / p)), 6) AS kl_ba,
       round(sum(abs(p - q)) / 2.0, 6) AS tvd
FROM r
"""

_REGISTRY.update({"inv_q_distribution_drift": (q_q_distribution_drift, SQL_Q_DRIFT)})


def q_s_bars_intraday(spark: SparkSession, sf: str) -> DataFrame:
    """Interval bars (tables.bars_from_events_interval): 4-hour OHLCV via
    F.window time bucketing — the sub-day hypertable rollup (S3 at scale)."""
    from market_data_pipeline_spark.sources.tables import bars_from_events_interval

    return bars_from_events_interval(spark, sf, width="4 hours")


SQL_S_BARS_INTRADAY = """
SELECT user_id AS symbol,
       time_bucket(INTERVAL 4 HOUR, ts) AS bar_start,
       arg_min(value, ts) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, ts) AS close,
       round(sum(value), 4) AS volume,
       count(*) AS n_trades
FROM events
GROUP BY 1, 2
"""

_REGISTRY.update({"inv_s_bars_intraday": (q_s_bars_intraday, SQL_S_BARS_INTRADAY)})


def q_v_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-seeded random projection (similarity.random_projection): 64-dim
    embeddings down to 8 via a deterministic sign matrix — pure higher-order
    array expressions, zero shuffles, engine-portable (full oracle)."""
    e = load_table(spark, sf, "embeddings")
    return similarity.random_projection(e, out_dim=8)


SQL_V_RANDOM_PROJECTION = """WITH u AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
)
SELECT vec_id,
       round(sum(v * CASE WHEN (i * (0+13) * 2654435761) % 97 < 48 THEN 1.0 ELSE -1.0 END) / sqrt(64.0), 6) AS p0,
       round(sum(v * CASE WHEN (i * (1+13) * 2654435761) % 97 < 48 THEN 1.0 ELSE -1.0 END) / sqrt(64.0), 6) AS p1,
       round(sum(v * CASE WHEN (i * (2+13) * 2654435761) % 97 < 48 THEN 1.0 ELSE -1.0 END) / sqrt(64.0), 6) AS p2,
       round(sum(v * CASE WHEN (i * (3+13) * 2654435761) % 97 < 48 THEN 1.0 ELSE -1.0 END) / sqrt(64.0), 6) AS p3,
       round(sum(v * CASE WHEN (i * (4+13) * 2654435761) % 97 < 48 THEN 1.0 ELSE -1.0 END) / sqrt(64.0), 6) AS p4,
       round(sum(v * CASE WHEN (i * (5+13) * 2654435761) % 97 < 48 THEN 1.0 ELSE -1.0 END) / sqrt(64.0), 6) AS p5,
       round(sum(v * CASE WHEN (i * (6+13) * 2654435761) % 97 < 48 THEN 1.0 ELSE -1.0 END) / sqrt(64.0), 6) AS p6,
       round(sum(v * CASE WHEN (i * (7+13) * 2654435761) % 97 < 48 THEN 1.0 ELSE -1.0 END) / sqrt(64.0), 6) AS p7
FROM u GROUP BY vec_id"""

_REGISTRY.update({"inv_v_random_projection": (q_v_random_projection, SQL_V_RANDOM_PROJECTION)})


def q_x_fold_assign(spark: SparkSession, sf: str) -> DataFrame:
    """k-fold assignment (features.assign_fold): per-fold doc and token
    counts — the fold sizes a CV harness actually consumes."""
    from market_data_pipeline_spark.operators import features

    d = text.add_token_stats(_docs(spark, sf)).select("doc_id", "n_tokens")
    return (
        features.assign_fold(d, "doc_id", k=5)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


SQL_X_FOLD_ASSIGN = f"""
WITH n AS (
  SELECT doc_id, len(string_split({_NORM_SQL}, ' ')) AS n_tokens FROM documents
)
SELECT CAST((doc_id * 2246822519) % 5 AS BIGINT) AS fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM n GROUP BY 1
"""

_REGISTRY.update({"inv_x_fold_assign": (q_x_fold_assign, SQL_X_FOLD_ASSIGN)})


def q_t_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Curation acceptance curve (text.threshold_sweep): docs + token mass
    surviving each candidate quality cutoff, from ONE aggregation pass."""
    d = text.add_quality_score(text.add_token_stats(_docs(spark, sf))).select(
        "doc_id", "n_tokens", "quality_score"
    )
    return text.threshold_sweep(d)


# unrounded score CTE (the sweep compares the OPERATOR's raw score to each
# cutoff, so the oracle must too — rounding only the output rates)
_SWEEP_BASE_SQL = f"""
n AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
s AS (
  SELECT doc_id, nt,
    len(string_split(nt, ' ')) AS n_tokens,
    {_stop_hits_sql()} AS stop_hits
  FROM n
),
q AS (
  SELECT doc_id, n_tokens,
    0.5 * least(length(nt) / 500.0, 1.0)
    + 0.5 * least((stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 5.0, 1.0)
      AS quality_score
  FROM s
)
""".strip()


def _sweep_sql() -> str:
    rows = []
    for t in (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8):
        rows.append(
            f"SELECT CAST({t} AS DOUBLE) AS threshold,"
            f" CAST(count(CASE WHEN quality_score >= {t} THEN 1 END) AS BIGINT) AS n_docs_kept,"
            f" CAST(coalesce(sum(CASE WHEN quality_score >= {t} THEN n_tokens END), 0) AS BIGINT) AS tokens_kept,"
            f" round(count(CASE WHEN quality_score >= {t} THEN 1 END) / CAST(count(*) AS DOUBLE), 6) AS doc_keep_rate,"
            f" round(coalesce(sum(CASE WHEN quality_score >= {t} THEN n_tokens END), 0) / CAST(sum(n_tokens) AS DOUBLE), 6) AS token_keep_rate"
            " FROM q"
        )
    return "WITH " + _SWEEP_BASE_SQL + "\n" + "\nUNION ALL\n".join(rows)


_REGISTRY.update({"inv_t_threshold_sweep": (q_t_threshold_sweep, _sweep_sql())})


def q_st_ohlcv_bars(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming OHLCV candles (jobs.streaming_ohlcv_bars): append-mode 4h
    bars; the oracle reproduces the watermark-finalization rule exactly
    (a bar emits iff its window end <= max(ts) - delay)."""
    ev = streaming_jobs.stream_events(spark, sf).select("user_id", "ts", "value")
    bars = streaming_jobs.streaming_ohlcv_bars(ev, width="4 hours", watermark="2 hours")
    return streaming_jobs.run_stream_to_memory(
        spark, bars, "ohlcv_bars", output_mode="append"
    )


SQL_ST_OHLCV_BARS = """
SELECT user_id AS symbol,
       time_bucket(INTERVAL 4 HOUR, ts) AS bar_start,
       arg_min(value, ts) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, ts) AS close,
       round(sum(value), 4) AS volume,
       count(*) AS n_trades
FROM events
GROUP BY 1, 2
HAVING time_bucket(INTERVAL 4 HOUR, ts) + INTERVAL 4 HOUR
       <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
"""

_REGISTRY.update({"inv_st_ohlcv_bars": (q_st_ohlcv_bars, SQL_ST_OHLCV_BARS)})


# ---------------------------------------------------------------------------
# S2 realtime quote feed as a CUSTOM DataSource (sources/quotefeed.py) —
# the reference's driver-side HTTP quote table re-expressed as a DataSource
# V2 with per-symbol input partitions. The synthetic transport is pure
# md5 arithmetic, so DuckDB regenerates the identical rows from SQL and
# the driver's value hash verifies a custom source end to end. Doubles are
# raw IEEE results of the same operation order on both sides (no rounding
# anywhere), so the values are bit-identical by construction.
# ---------------------------------------------------------------------------

_QF_SYMBOLS = ",".join(f"SYM{i:02d}" for i in range(16))
_QF_TICKS = 64


def q_s2_quote_feed(spark: SparkSession, sf: str) -> DataFrame:
    """Realtime quote scan via the custom ``quotefeed`` source
    (price_extractor.py:109-155 parity — symbol universe fanned out as
    input partitions instead of a driver-side request loop)."""
    from market_data_pipeline_spark.sources import quotefeed

    quotefeed.register(spark)
    return (
        spark.read.format("quotefeed")
        .option("symbols", _QF_SYMBOLS)
        .option("ticks", str(_QF_TICKS))
        .load()
    )


def _qf_oracle_sql(symbols: str, ticks: int, start: int = 1704067200, interval_s: int = 60) -> str:
    sym_list = ", ".join(f"'{s}'" for s in symbols.split(","))

    def b(i: int) -> str:
        return _sql_byte_at("g.h", str(i))

    return f"""
WITH syms AS (SELECT unnest([{sym_list}]) AS symbol),
t AS (SELECT range AS seq FROM range(0, {ticks})),
g AS (
  SELECT symbol, seq, upper(md5(symbol || ':' || CAST(seq AS VARCHAR))) AS h
  FROM syms CROSS JOIN t
),
v AS (
  SELECT symbol, CAST(seq AS BIGINT) AS seq,
         make_timestamp((CAST({start} AS BIGINT) + seq * {interval_s}) * 1000000) AS ts,
         50.0 + ((({b(0)}) * 65536 + ({b(1)}) * 256 + ({b(2)})) % 10000) / 100.0 AS price,
         CAST((({b(3)}) * 65536 + ({b(4)}) * 256 + ({b(5)})) % 100000 AS BIGINT) AS volume
  FROM g
),
w AS (
  SELECT symbol, seq, ts, price, volume,
         CASE WHEN seq = 0 THEN 0.0
              ELSE price - lag(price) OVER (PARTITION BY symbol ORDER BY seq) END AS change,
         lag(price) OVER (PARTITION BY symbol ORDER BY seq) AS __prev
  FROM v
)
SELECT symbol, seq, ts, price, change,
       CASE WHEN seq = 0 THEN 0.0 ELSE change / __prev * 100.0 END AS pct_change,
       volume
FROM w
"""


_REGISTRY.update(
    {"inv_s2_quote_feed": (q_s2_quote_feed, _qf_oracle_sql(_QF_SYMBOLS, _QF_TICKS))}
)


def q_s2_quote_momentum(spark: SparkSession, sf: str) -> DataFrame:
    """Per-symbol signal scan over the custom quote source — the batch twin
    of streaming_jobs.streaming_quote_signals run over the whole tick
    range (one slice per symbol), sharing its aggregate list verbatim."""
    q = q_s2_quote_feed(spark, sf)
    return q.groupBy("symbol").agg(*streaming_jobs.quote_signal_aggs())


SQL_S2_QUOTE_MOMENTUM = f"""
WITH q AS ({_qf_oracle_sql(_QF_SYMBOLS, _QF_TICKS)})
SELECT symbol,
       arg_min(price, seq) AS first_price,
       arg_max(price, seq) AS last_price,
       round(avg(price), 6) AS avg_price,
       round((arg_max(price, seq) - arg_min(price, seq)) / arg_min(price, seq) * 100.0, 6)
         AS momentum_pct,
       round(stddev_samp(pct_change), 6) AS tick_vol,
       CAST(sum(volume) AS BIGINT) AS total_volume,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM q GROUP BY symbol
"""

_REGISTRY.update({"inv_s2_quote_momentum": (q_s2_quote_momentum, SQL_S2_QUOTE_MOMENTUM)})


def q_x_semantic_curation(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic curation capstone (the SemDeDup-shaped pipeline): the
    quality-gated corpus with EMBEDDING-cosine near-duplicate clusters
    collapsed to their min-id member, labels carried from the vector
    table. Cross-table composition: documents (text quality) ⋈ embeddings
    (semantic identity) on the shared id space, pairs from the LSH-bucket
    self-join + exact cosine filter, clusters from label propagation —
    one lazy plan end to end."""
    d = _docs(spark, sf)
    e = load_table(spark, sf, "embeddings")
    q = text.add_quality_score(text.add_token_stats(d))
    members = similarity.semantic_dup_members(e, threshold=0.25, n_planes=6)
    losers = members.filter(F.col("vec_id") != F.col("group_id")).select(
        F.col("vec_id").alias("doc_id")
    )
    return (
        q.filter(
            (F.col("n_tokens") >= 10)
            & (F.col("n_tokens") <= 10000)
            & (F.col("quality_score") >= 0.5)
        )
        .join(losers, "doc_id", "left_anti")
        .join(
            e.select(F.col("vec_id").alias("doc_id"), "label"), "doc_id", "left"
        )
        .select("doc_id", "lang", "n_tokens", "quality_score", "label")
    )


SQL_X_SEMANTIC = f"""
WITH RECURSIVE
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_lsh_bucket_sql(6)} AS lsh_bucket FROM e),
pairs AS (
  SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b
  FROM b a JOIN b b2 ON a.lsh_bucket = b2.lsh_bucket AND a.vec_id < b2.vec_id
  WHERE round(list_dot_product(a.v, b2.v)
          / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v)), 0), 6)
        >= 0.25
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.id, e2.dst FROM reach JOIN edges e2 ON reach.r = e2.src
),
groups AS (SELECT id AS gdoc, min(r) AS group_id FROM reach GROUP BY id),
kept AS (
  SELECT d.doc_id FROM documents d LEFT JOIN groups g ON d.doc_id = g.gdoc
  WHERE g.gdoc IS NULL OR g.group_id = d.doc_id
),
n AS (SELECT doc_id, lang, {_NORM_SQL} AS nt FROM documents),
s AS (SELECT doc_id, lang, nt, len(string_split(nt, ' ')) AS n_tok,
             {{STOP_HITS}} AS stop_hits FROM n),
r AS (
  SELECT doc_id, lang, n_tok,
         least(length(nt) / 500.0, 1.0) AS len_score,
         round(stop_hits / CAST(greatest(n_tok, 1) AS DOUBLE), 6) AS stopword_ratio
  FROM s
)
SELECT r.doc_id, r.lang, CAST(n_tok AS INT) AS n_tokens,
       round(0.5 * len_score + 0.5 * least(stopword_ratio * 5.0, 1.0) + 1e-9, 6) AS quality_score,
       emb.label
FROM r
JOIN kept ON r.doc_id = kept.doc_id
LEFT JOIN embeddings emb ON emb.vec_id = r.doc_id
WHERE n_tok BETWEEN 10 AND 10000
  AND round(0.5 * len_score + 0.5 * least(stopword_ratio * 5.0, 1.0) + 1e-9, 6) >= 0.5
""".replace("{STOP_HITS}", _stop_hits_sql())

_REGISTRY.update({"inv_x_semantic_curation": (q_x_semantic_curation, SQL_X_SEMANTIC)})


def q_x_importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-shaped importance weights for domain-targeted resampling:
    hashed-unigram LM of the src0 slice vs the whole corpus, per-doc mean
    token log-likelihood ratio (operators/text.py:importance_weights)."""
    d = _docs(spark, sf)
    return text.importance_weights(d, target=F.col("source") == "src0", buckets=256)


def _iw_oracle_sql(buckets: int = 256) -> str:
    def b(i: int) -> str:
        return _sql_byte_at("t2.h", str(i))

    return f"""
WITH n AS (SELECT doc_id, source, {_NORM_SQL} AS nt FROM documents),
toks AS (
  SELECT doc_id, source = 'src0' AS tgt, unnest(string_split(nt, ' ')) AS term FROM n
),
t2 AS (SELECT doc_id, tgt, upper(md5(term)) AS h FROM toks WHERE term <> ''),
bk AS (
  SELECT doc_id, tgt,
         (({b(0)}) * 65536 + ({b(1)}) * 256 + ({b(2)})) % {buckets} AS b
  FROM t2
),
corpus AS (SELECT b, count(*) AS n_c FROM bk GROUP BY b),
tgtc AS (SELECT b, count(*) AS n_t FROM bk WHERE tgt GROUP BY b),
tot AS (
  SELECT count(*) AS tc, count(*) FILTER (WHERE tgt) AS tt FROM bk
),
probs AS (
  SELECT c.b,
         ln((coalesce(t.n_t, 0) + 1.0) / (tot.tt + {buckets}.0))
         - ln((c.n_c + 1.0) / (tot.tc + {buckets}.0)) AS llr
  FROM corpus c LEFT JOIN tgtc t ON c.b = t.b CROSS JOIN tot
)
SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       round(avg(p.llr), 6) AS weight
FROM bk JOIN probs p ON bk.b = p.b
GROUP BY bk.doc_id
"""


_REGISTRY.update({"inv_x_importance_weights": (q_x_importance_weights, _iw_oracle_sql())})


def q_d_dedup_best(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-BEST near dedup: the corpus with each MinHash-LSH cluster
    collapsed to its highest-quality member (id tiebreak), not the
    arbitrary min id (dedup.dedup_near_keep_best)."""
    d = _docs(spark, sf)
    q = text.add_quality_score(d)
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=12, bands=4)
    return dedup.dedup_near_keep_best(q, pairs, "quality_score").select(
        "doc_id", "quality_score"
    )


SQL_D_DEDUP_BEST = f"""
WITH RECURSIVE {_SHINGLE_SQL},
{_minhash_sig_sql()},
{_band_sql()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
groups AS (SELECT id AS gdoc, min(r) AS group_id FROM reach GROUP BY id),
n2 AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
s2 AS (SELECT doc_id, nt, len(string_split(nt, ' ')) AS n_tok,
              {{STOP_HITS}} AS stop_hits FROM n2),
qual AS (
  SELECT doc_id,
         round(0.5 * least(length(nt) / 500.0, 1.0)
               + 0.5 * least(round(stop_hits / CAST(greatest(n_tok, 1) AS DOUBLE), 6) * 5.0, 1.0)
               + 1e-9,
               6) AS quality_score
  FROM s2
),
ranked AS (
  SELECT g.group_id, g.gdoc AS doc_id,
         row_number() OVER (
           PARTITION BY g.group_id
           ORDER BY q.quality_score DESC, g.gdoc
         ) AS rn
  FROM groups g JOIN qual q ON q.doc_id = g.gdoc
),
losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
SELECT q.doc_id, q.quality_score
FROM qual q LEFT JOIN losers l ON q.doc_id = l.doc_id
WHERE l.doc_id IS NULL
""".replace("{STOP_HITS}", _stop_hits_sql())

_REGISTRY.update({"inv_d_dedup_best": (q_d_dedup_best, SQL_D_DEDUP_BEST)})


def q_t_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document repeated-span (substring-level) dedup statistics —
    the Lee et al. 2022 signal, suffix-array-free: positionally
    fingerprinted 8-token windows, cross-doc windows merged per doc into
    maximal duplicated intervals (operators/text.py:repeated_span_stats).
    Parity anchor: the reference's dedup surface is row-level only; this
    extends it with the span-level dedup a 100 TB training pipeline runs
    (SURVEY.md LLM-ops mandate)."""
    return text.repeated_span_stats(_docs(spark, sf), n=8, min_docs=2)


SQL_T_SPAN_DEDUP = f"""
WITH n AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
b AS (SELECT doc_id, toks, len(toks) AS nt FROM n),
p AS (
  SELECT b.doc_id, b.nt, u.i AS pos,
         md5(array_to_string(b.toks[u.i + 1 : u.i + 8], ' ')) AS gh
  FROM b, LATERAL unnest(range(0, b.nt - 8 + 1)) AS u(i)
  WHERE b.nt >= 8
),
f AS (SELECT gh FROM p GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
fp AS (SELECT p.doc_id, p.pos FROM p JOIN f USING (gh)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + 8) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + 8) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_isl
  FROM fp
),
isl2 AS (
  SELECT doc_id, pos,
         sum(new_isl) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
  FROM isl
),
per_isl AS (
  SELECT doc_id, iid, count(*) AS pos_n, max(pos) + 8 - min(pos) AS covered
  FROM isl2 GROUP BY doc_id, iid
),
agg AS (
  SELECT doc_id, CAST(sum(pos_n) AS BIGINT) AS dup_positions,
         CAST(max(iid) AS BIGINT) AS dup_islands,
         CAST(sum(covered) AS BIGINT) AS covered_tokens
  FROM per_isl GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.nt AS INTEGER) AS n_tokens,
       CAST(coalesce(a.dup_positions, 0) AS BIGINT) AS dup_positions,
       CAST(coalesce(a.dup_islands, 0) AS BIGINT) AS dup_islands,
       CAST(coalesce(a.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       round(coalesce(a.covered_tokens, 0) / CAST(b.nt AS DOUBLE), 4) AS coverage_pct
FROM b LEFT JOIN agg a ON b.doc_id = a.doc_id
"""

_REGISTRY.update({"inv_t_span_dedup": (q_t_span_dedup, SQL_T_SPAN_DEDUP)})


def q_x_shard_export(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic-shuffle shard manifest: the per-shard row counts, id
    checksum, and shuffle-key span the sharded training export produces
    (sources/sinks.py:shard_assign / write_sharded). The manifest is the
    driver-checkable contract of the export: identical on any engine
    because the shuffle key is pure id arithmetic."""
    from market_data_pipeline_spark.sources import sinks as _sinks

    assigned = _sinks.shard_assign(_docs(spark, sf), "doc_id", 8)
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("id_checksum"),
        F.min("shuffle_key").alias("min_key"),
        F.max("shuffle_key").alias("max_key"),
    )


SQL_X_SHARD_EXPORT = """
WITH a AS (
  SELECT doc_id,
         CAST((doc_id * 2654435761) % 4294967296 AS BIGINT) AS shuffle_key
  FROM documents
)
SELECT CAST(shuffle_key % 8 AS INTEGER) AS shard,
       count(*) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       min(shuffle_key) AS min_key,
       max(shuffle_key) AS max_key
FROM a
GROUP BY 1
"""

_REGISTRY.update({"inv_x_shard_export": (q_x_shard_export, SQL_X_SHARD_EXPORT)})


def q_t_span_excise(spark: SparkSession, sf: str) -> DataFrame:
    """Repeated-span EXCISION — the corpus transform Lee et al. 2022
    apply: duplicated intervals cut out of each document, unique
    surroundings kept (operators/text.py:excise_repeated_spans).
    Companion of inv_t_span_dedup (same flagging, policy applied)."""
    return text.excise_repeated_spans(_docs(spark, sf), n=8, min_docs=2)


SQL_T_SPAN_EXCISE = f"""
WITH n AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
b AS (SELECT doc_id, toks, len(toks) AS nt FROM n),
p AS (
  SELECT b.doc_id, b.nt, u.i AS pos,
         md5(array_to_string(b.toks[u.i + 1 : u.i + 8], ' ')) AS gh
  FROM b, LATERAL unnest(range(0, b.nt - 8 + 1)) AS u(i)
  WHERE b.nt >= 8
),
f AS (SELECT gh FROM p GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
fp AS (SELECT p.doc_id, p.pos FROM p JOIN f USING (gh)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + 8) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + 8) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_isl
  FROM fp
),
isl2 AS (
  SELECT doc_id, pos,
         sum(new_isl) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
  FROM isl
),
per_isl AS (
  SELECT doc_id, iid, min(pos) AS s, max(pos) + 8 AS e
  FROM isl2 GROUP BY doc_id, iid
),
isl_doc AS (
  SELECT doc_id, list(struct_pack(s := s, e := e)) AS islands
  FROM per_isl GROUP BY doc_id
),
rebuilt AS (
  SELECT b.doc_id, b.nt,
         CASE WHEN d.islands IS NULL THEN NULL
              ELSE list_filter(
                     range(0, b.nt),
                     i -> len(list_filter(d.islands,
                                          x -> i >= x.s AND i < x.e)) = 0)
         END AS kept_idx,
         d.islands IS NULL AS untouched,
         b.toks
  FROM b LEFT JOIN isl_doc d ON b.doc_id = d.doc_id
)
SELECT doc_id,
       CASE WHEN untouched THEN array_to_string(toks, ' ')
            ELSE coalesce(array_to_string(
                   list_transform(kept_idx, i -> toks[CAST(i + 1 AS BIGINT)]), ' '), '')
       END AS clean_text,
       CAST(nt AS INTEGER) AS n_tokens,
       CAST(CASE WHEN untouched THEN 0 ELSE nt - len(kept_idx) END AS INTEGER)
         AS removed_tokens,
       CAST(CASE WHEN untouched THEN nt ELSE len(kept_idx) END AS INTEGER)
         AS kept_tokens
FROM rebuilt
"""

_REGISTRY.update({"inv_t_span_excise": (q_t_span_excise, SQL_T_SPAN_EXCISE)})


# ---------------------------------------------------------------------------
# BPE tokenizer training (round 3) — Sennrich et al. 2016 subword merges
# learned distributively: ONE corpus-sized pass (word_counts), then a merge
# loop over the O(vocab) word table. The oracle unrolls the identical loop
# as chained CTEs; replace() has the same greedy left-to-right
# non-overlapping semantics in both engines over the ␟sym␞ wrapping.
# The reference has no tokenizer at all — north-star LLM-pipeline op.
# ---------------------------------------------------------------------------

_BPE_TOP_WORDS = 300
_BPE_MERGES = 8


def q_t_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    wc = (
        text.word_counts(d)
        .orderBy(F.desc("cnt"), "word")
        .limit(_BPE_TOP_WORDS)
    )
    return text.bpe_train(wc, num_merges=_BPE_MERGES)


def _bpe_sql(num_merges: int = _BPE_MERGES, top_words: int = _BPE_TOP_WORDS) -> str:
    s_mark, e_mark = "␟", "␞"
    parts = [
        f"""toks AS (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS word FROM documents
),
wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks
  WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word ORDER BY cnt DESC, word LIMIT {top_words}
),
words0 AS (
  SELECT regexp_replace(word, '(.)', '{s_mark}\\1{e_mark}', 'g')
           || '{s_mark}</w>{e_mark}' AS w,
         cnt
  FROM wc
)"""
    ]
    for k in range(1, num_merges + 1):
        p = k - 1
        parts.append(
            f"""pairs{k} AS (
  SELECT s[i] AS lhs, s[i+1] AS rhs, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM (SELECT string_split(regexp_replace(w, '^{s_mark}|{e_mark}$', '', 'g'),
                            '{e_mark}{s_mark}') AS s,
               cnt
        FROM words{p}) t,
       unnest(generate_series(1, len(s) - 1)) AS u(i)
  GROUP BY 1, 2
),
top{k} AS (
  SELECT {k} AS step, lhs, rhs, pair_count FROM pairs{k}
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1
),
words{k} AS (
  SELECT replace(w, '{s_mark}' || t.lhs || '{e_mark}{s_mark}' || t.rhs || '{e_mark}',
                 '{s_mark}' || t.lhs || t.rhs || '{e_mark}') AS w,
         cnt
  FROM words{p}, top{k} t
)"""
        )
    tops = " UNION ALL ".join(
        f"SELECT * FROM top{k}" for k in range(1, num_merges + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(step AS INT) AS step, lhs, rhs, lhs || rhs AS merged, pair_count
FROM ({tops}) ORDER BY step"""
    )


_REGISTRY.update({"inv_t_bpe_merges": (q_t_bpe_merges, _bpe_sql())})


def q_t_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Round trip: train the merge list, then encode every document with it
    — per-doc whitespace-word and BPE-subword counts. The merge list is the
    O(num_merges) model artifact (driver-held like broadcast centroids);
    the encode pass is one pure expression chain over the corpus scan."""
    d = _docs(spark, sf)
    wc = (
        text.word_counts(d)
        .orderBy(F.desc("cnt"), "word")
        .limit(_BPE_TOP_WORDS)
    )
    merges = text.bpe_train(wc, num_merges=_BPE_MERGES)
    return text.bpe_apply(d, merges)


def _bpe_encode_sql(num_merges: int = _BPE_MERGES) -> str:
    s_mark, e_mark = "␟", "␞"
    # reuse the training CTE chain (strip the trailing SELECT), then unroll
    # the encode replaces over the wrapped documents with each step's winner
    train = _bpe_sql(num_merges)
    body = train[: train.rindex("\nSELECT CAST(step AS INT)")]
    parts = [
        body,
        f""",
enc0 AS (
  SELECT doc_id,
         list_transform(
           list_filter(string_split({_NORM_SQL}, ' '),
                       w -> regexp_matches(w, '^[a-z]+$')),
           w -> regexp_replace(w, '(.)', '{s_mark}\\1{e_mark}', 'g')
                  || '{s_mark}</w>{e_mark}') AS wl
  FROM documents
),
encw0 AS (
  SELECT doc_id, CAST(len(wl) AS INT) AS n_words,
         array_to_string(wl, '') AS w
  FROM enc0
)""",
    ]
    for k in range(1, num_merges + 1):
        parts.append(
            f""",
encw{k} AS (
  SELECT e.doc_id, e.n_words,
         replace(e.w, '{s_mark}' || t.lhs || '{e_mark}{s_mark}' || t.rhs || '{e_mark}',
                 '{s_mark}' || t.lhs || t.rhs || '{e_mark}') AS w
  FROM encw{k - 1} e, top{k} t
)"""
        )
    return (
        "".join(parts)
        + f"""
SELECT doc_id, n_words,
       CAST(length(w) - length(replace(w, '{s_mark}', '')) AS INT) AS n_bpe_tokens
FROM encw{num_merges}"""
    )


_REGISTRY.update({"inv_t_bpe_encode": (q_t_bpe_encode, _bpe_encode_sql())})


# ---------------------------------------------------------------------------
# ANN index self-evaluation (round 3): recall@k of the LSH search graded
# against exact brute force in one plan — the tuning measurement for
# n_planes/probes. Oracle composes the two existing constructions.
# ---------------------------------------------------------------------------


def q_sim_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return similarity.ann_recall(e, q, k=5, n_planes=8)


SQL_SIM_ANN_RECALL = f"""
WITH exact AS ({SQL_SIM_BF}),
approx AS ({SQL_SIM_ANN})
SELECT x.query_id,
       CAST(count(*) AS INT) AS n_exact,
       CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_hit,
       round(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact x
LEFT JOIN approx a ON x.query_id = a.query_id AND x.corpus_id = a.corpus_id
GROUP BY x.query_id
"""


_REGISTRY.update({"inv_sim_ann_recall": (q_sim_ann_recall, SQL_SIM_ANN_RECALL)})


# ---------------------------------------------------------------------------
# Baseline JPEG round trip (round 3b): the lossy-codec path made REAL.
# Geometry is exactly oracle-predictable; fidelity enters as a pinned
# ok-flag (the sketch_accuracy contract — TRUE must hold or the driver
# hash mismatches loudly).
# ---------------------------------------------------------------------------


def q_m_jpeg_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import multimodal

    d = _docs(spark, sf)
    return multimodal.jpeg_roundtrip_stats(d, width=32, quality=90)


SQL_M_JPEG_ROUNDTRIP = """
SELECT doc_id AS media_id,
       32 AS width,
       CAST(greatest(1, CAST(ceil(octet_length(encode(text)) / 32.0) AS BIGINT)) AS INT) AS height,
       1 AS channels,
       TRUE AS compressed,
       TRUE AS psnr_ok
FROM documents
"""


_REGISTRY.update({"inv_m_jpeg_roundtrip": (q_m_jpeg_roundtrip, SQL_M_JPEG_ROUNDTRIP)})


# ---------------------------------------------------------------------------
# Join-skew audit (round 3b): the pre-join diagnostic that decides
# salting vs AQE skew-split at scale — one unpivoted pass, never a
# per-column rescan.
# ---------------------------------------------------------------------------


def q_q_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return quality.join_skew_report(
        li, ["l_orderkey", "l_partkey", "l_suppkey"], top=5
    )


SQL_Q_SKEW = """
WITH pairs AS (
  SELECT 'l_orderkey' AS col, CAST(l_orderkey AS VARCHAR) AS key FROM lineitem
  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
),
counted AS (
  SELECT col, key, CAST(count(*) AS BIGINT) AS cnt FROM pairs GROUP BY 1, 2
),
summary AS (
  SELECT col, CAST(sum(cnt) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_cnt
  FROM counted GROUP BY col
),
topn AS (
  SELECT col, key, cnt,
         CAST(row_number() OVER (PARTITION BY col ORDER BY cnt DESC, key) AS INT) AS rk
  FROM counted
)
SELECT t.col, t.key, t.rk, t.cnt,
       round(t.cnt * 100.0 / s.total_rows, 4) AS share_pct,
       round(s.max_cnt * s.n_keys / CAST(s.total_rows AS DOUBLE), 4) AS skew_ratio
FROM topn t JOIN summary s USING (col)
WHERE t.rk <= 5
"""


_REGISTRY.update({"inv_q_skew_report": (q_q_skew_report, SQL_Q_SKEW)})


# ---------------------------------------------------------------------------
# Round 4: the versioned table format under the DRIVER oracle — every prior
# tablefmt contract was pytest-only. This query drives the full lifecycle
# (two appends, the second schema-EVOLVING; a stats-pruned DELETE; a Z-order
# CLUSTER rewrite; a file-skipping SCAN) against the documents table in a
# process-keyed temp dir, and its result must equal plain SQL over the raw
# table — so commit atomicity, schema pinning, pruning conservatism, and
# the cluster rewrite are all value-checked end to end, not just unit-tested.
# (sources/tablefmt.py; reference has no table format — beyond-parity.)
# ---------------------------------------------------------------------------


def q_s_versioned_scan(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from market_data_pipeline_spark.sources import tablefmt as tf

    d = _docs(spark, sf).select("doc_id", "lang", "source", "n_chars")
    tag = os.path.basename(os.path.normpath(sf)) or "sf"
    base = os.path.join(
        tempfile.gettempdir(), f"mdp_versioned_{tag}"
    )
    # fixed per-sf path (no pid tag) — next run's rmtree is the cleanup;
    # the returned frame reads the store lazily (r7 ADVICE)
    shutil.rmtree(base, ignore_errors=True)  # deterministic rebuild per run
    path = f"{base}/t"
    tf.append(spark, path, d.filter(F.col("doc_id") % 2 == 0))
    tf.append(
        spark,
        path,
        d.filter(F.col("doc_id") % 2 == 1).withColumn(
            "odd_rank", F.col("doc_id") % 7
        ),
        evolve=True,
    )
    tf.delete_where(spark, path, "lang = 'de'")
    tf.cluster(spark, path, ["doc_id", "n_chars"], target_partitions=4)
    return tf.scan(spark, path, "n_chars >= 100 AND lang != 'zh'")


SQL_S_VERSIONED = """
SELECT doc_id, lang, source, n_chars,
       CASE WHEN doc_id % 2 = 1 THEN doc_id % 7 ELSE NULL END AS odd_rank
FROM documents
WHERE lang != 'de' AND n_chars >= 100 AND lang != 'zh'
"""


_REGISTRY.update({"inv_s_versioned_scan": (q_s_versioned_scan, SQL_S_VERSIONED)})


# ---------------------------------------------------------------------------
# Late round 4: the table format's DML + incremental-read surface under the
# DRIVER oracle. Lifecycle: append a flagged base -> merge_upsert (key
# replacement + brand-new keys through the stats-bounded envelope) ->
# delete_where with a predicate that is NULL on part of the table (SQL
# DELETE semantics: NULL-evaluating rows must survive uniformly — the
# round-4 review fix this value-checks end to end) -> append a final batch
# -> read_changes() consumes exactly that batch and annotates the final
# read. (sources/tablefmt.py; reference has no table format — beyond-parity.)
# ---------------------------------------------------------------------------


def q_s_versioned_merge(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from market_data_pipeline_spark.sources import tablefmt as tf

    d = _docs(spark, sf).select("doc_id", "lang", "source", "n_chars")

    def flagged(df: DataFrame) -> DataFrame:
        # NULL for every doc_id % 5 == 0 row: the delete predicate below
        # evaluates NULL there, and those rows must survive the DELETE
        return df.withColumn(
            "flag",
            F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
                F.col("n_chars")
            ),
        )

    tag = os.path.basename(os.path.normpath(sf)) or "sf"
    base = os.path.join(
        tempfile.gettempdir(), f"mdp_versioned_merge_{tag}"
    )
    shutil.rmtree(base, ignore_errors=True)  # deterministic rebuild per run
    path = f"{base}/t"
    tf.append(spark, path, flagged(d))
    updates = flagged(
        d.filter(F.col("doc_id") % 10 == 3).withColumn(
            "n_chars", F.col("n_chars") + 1000
        )
    )
    newbies = flagged(
        d.filter(F.col("doc_id") % 100 == 7).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    tf.merge_upsert(spark, path, updates.unionByName(newbies), keys=["doc_id"])
    v_del = tf.delete_where(spark, path, "flag < 200")
    batch3 = flagged(
        d.filter(F.col("doc_id") % 100 == 11).withColumn(
            "doc_id", F.col("doc_id") + 2000000
        )
    )
    tf.append(spark, path, batch3)
    new_ids = tf.read_changes(spark, path, from_version=v_del).select("doc_id")
    return (
        tf.read(spark, path)
        .join(new_ids.withColumn("__n", F.lit(1)), "doc_id", "left")
        .withColumn("is_new", F.col("__n").isNotNull())
        .drop("__n")
    )


SQL_S_VERSIONED_MERGE = """
WITH base AS (SELECT doc_id, lang, source, n_chars FROM documents),
merged AS (
  SELECT doc_id, lang, source,
         CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000 ELSE n_chars END AS n_chars
  FROM base
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, lang, source, n_chars
  FROM base WHERE doc_id % 100 = 7
),
flagged AS (
  SELECT doc_id, lang, source, n_chars,
         CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END AS flag
  FROM merged
),
surviving AS (
  -- SQL DELETE semantics: rows where the predicate is NULL survive
  SELECT * FROM flagged WHERE NOT coalesce(flag < 200, false)
),
batch3 AS (
  SELECT doc_id, lang, source, n_chars,
         CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END AS flag
  FROM (
    SELECT doc_id + 2000000 AS doc_id, lang, source, n_chars
    FROM base WHERE doc_id % 100 = 11
  )
)
SELECT doc_id, lang, source, n_chars, flag, FALSE AS is_new FROM surviving
UNION ALL
SELECT doc_id, lang, source, n_chars, flag, TRUE AS is_new FROM batch3
"""


_REGISTRY.update(
    {"inv_s_versioned_merge": (q_s_versioned_merge, SQL_S_VERSIONED_MERGE)}
)


# ---------------------------------------------------------------------------
# Round 4 (continued): graph analytics over the derived co-purchase graph
# (operators/graph.py — beyond-parity; the reference has no graph surface).
# Edge derivation = ONE basket aggregation + per-row pair expansion (no
# self-join); triangles via degree-ordered orientation (hub-proof wedge
# join); PageRank as the canonical checkpointed iterative-join loop with
# in-loop 1e-10 quantization so a chained-CTE DuckDB unrolling matches
# every rank bit-exactly (the kmeans_fit oracle pattern).
# ---------------------------------------------------------------------------

# Shared oracle fragment: the co-purchase edge list. The Spark side caps
# baskets at the 64 smallest part ids before pairing (fan-out bound); the
# oracle mirrors the cap so capped semantics stay value-checked even on
# data where it binds.
_SQL_G_EDGES = """
li0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
li AS (
  SELECT ok, pk FROM (
    SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rn
    FROM li0
  ) WHERE rn <= 64
),
e AS (
  SELECT a.pk AS src, b.pk AS dst, count(*) AS weight
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
)"""


def q_g_copurchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    return graph.copurchase_edges(spark, sf, min_weight=2)


SQL_G_EDGES_W2 = f"""
WITH {_SQL_G_EDGES}
SELECT src, dst, weight FROM e WHERE weight >= 2
"""


def q_g_degree_hist(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    return graph.degree_histogram(graph.copurchase_edges(spark, sf))


SQL_G_DEGREE_HIST = f"""
WITH {_SQL_G_EDGES},
deg AS (
  SELECT n, count(*) AS degree FROM (
    SELECT src AS n FROM e UNION ALL SELECT dst FROM e
  ) GROUP BY n
)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
"""


def q_g_triangles(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    return graph.triangle_stats(graph.copurchase_edges(spark, sf))


# The oracle counts triangles by id-orientation (each triangle a<b<c seen
# once); the Spark side counts by degree-orientation — the count is
# orientation-invariant, only the join fan-out differs.
SQL_G_TRIANGLES = f"""
WITH {_SQL_G_EDGES},
deg AS (
  SELECT n, count(*) AS deg FROM (
    SELECT src AS n FROM e UNION ALL SELECT dst FROM e
  ) GROUP BY n
),
tri AS (
  SELECT count(*) AS t
  FROM e e1 JOIN e e2 ON e2.src = e1.dst JOIN e e3
    ON e3.src = e1.src AND e3.dst = e2.dst
)
SELECT
  (SELECT count(*) FROM deg) AS n_nodes,
  (SELECT count(*) FROM e) AS n_edges,
  (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
  (SELECT t FROM tri) AS n_triangles,
  round(3.0 * (SELECT t FROM tri)
        / (SELECT sum(deg * (deg - 1) / 2) FROM deg) + 1e-13, 6) AS clustering_coef
"""


def q_g_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    pr = graph.pagerank(graph.copurchase_edges(spark, sf), iterations=10)
    return pr.orderBy(F.col("pr").desc(), F.col("node")).limit(50)


def _pagerank_sql(iterations: int = 10) -> str:
    """Chained-CTE unrolling of the quantized PageRank loop — exact
    because the Spark side quantizes every rank to 10 decimals in-loop
    (summation order can't leak into the iterate)."""
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""r{i} AS (
  SELECT sym.d AS node,
         round(0.15 / (SELECT cnt FROM n) + 0.85 * sum(r.pr / dg.deg) + 1e-13, 10) AS pr
  FROM sym JOIN {prev} r ON sym.s = r.node JOIN deg dg ON sym.s = dg.s
  GROUP BY sym.d)"""
        )
        prev = f"r{i}"
    return f"""
WITH {_SQL_G_EDGES},
sym AS (SELECT src AS s, dst AS d FROM e UNION ALL SELECT dst AS s, src AS d FROM e),
deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY s),
n AS (SELECT count(*) AS cnt FROM deg),
r0 AS (SELECT s AS node, round(1.0 / (SELECT cnt FROM n) + 1e-13, 10) AS pr FROM deg),
{','.join(steps)}
SELECT node, pr FROM {prev} ORDER BY pr DESC, node LIMIT 50
"""


def q_g_assoc_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association rules (graph.association_rules): top-50
    part pairs by lift over lineitem order baskets, with support and
    confidence — the rule-mining layer above the co-purchase edge graph.
    Same capped-basket semantics as the edge build; metrics are integer
    ratios with pinned division order, so the oracle matches exactly."""
    from market_data_pipeline_spark.operators import graph

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    return graph.association_rules(li, "l_orderkey", "l_partkey")


SQL_G_ASSOC = f"""
WITH {_SQL_G_EDGES},
n AS (SELECT count(DISTINCT ok) AS nb FROM li),
isup AS (SELECT pk, count(*) AS s FROM li GROUP BY pk),
rules0 AS (
  SELECT src AS antecedent, dst AS consequent, weight FROM e WHERE weight >= 2
  UNION ALL
  SELECT dst AS antecedent, src AS consequent, weight FROM e WHERE weight >= 2
)
SELECT antecedent, consequent, CAST(weight AS BIGINT) AS pair_count,
       round(CAST(weight AS DOUBLE) / CAST(nb AS DOUBLE) + 1e-12, 6) AS support,
       round(CAST(weight AS DOUBLE) / CAST(sa.s AS DOUBLE) + 1e-12, 6) AS confidence,
       round((CAST(weight AS DOUBLE) * CAST(nb AS DOUBLE))
             / (CAST(sa.s AS DOUBLE) * CAST(sc.s AS DOUBLE)) + 1e-12, 6) AS lift
FROM rules0
JOIN isup sa ON antecedent = sa.pk
JOIN isup sc ON consequent = sc.pk
CROSS JOIN n
ORDER BY lift DESC, antecedent, consequent LIMIT 50
"""


def q_g_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Link prediction (graph.link_prediction): top-50 non-adjacent part
    pairs of the weight≥2 co-purchase graph by neighborhood Jaccard —
    'will be co-purchased next'. Capped wedge enumeration (smallest-id
    cap mirrored in the oracle), full degrees, anti-join on the edge set."""
    from market_data_pipeline_spark.operators import graph

    return graph.link_prediction(copurchase_w2(spark, sf))


def copurchase_w2(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    return graph.copurchase_edges(spark, sf, min_weight=2)


SQL_G_LINKPRED = f"""
WITH {_SQL_G_EDGES},
e2 AS (SELECT src, dst FROM e WHERE weight >= 2),
sym AS (SELECT src, dst FROM e2 UNION ALL SELECT dst, src FROM e2),
deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
nb AS (
  SELECT src AS n, dst AS nb FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
    FROM sym
  ) WHERE rn <= 256
),
cand AS (
  SELECT a.nb AS node_a, b.nb AS node_b, count(*) AS cn
  FROM nb a JOIN nb b ON a.n = b.n AND a.nb < b.nb
  GROUP BY 1, 2
),
nonadj AS (
  SELECT c.node_a, c.node_b, c.cn
  FROM cand c LEFT JOIN e2 ON c.node_a = e2.src AND c.node_b = e2.dst
  WHERE e2.src IS NULL
)
SELECT node_a, node_b, CAST(cn AS BIGINT) AS common_neighbors,
       round(CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE)
             + 1e-12, 6) AS jaccard_score
FROM nonadj
JOIN deg da ON node_a = da.node
JOIN deg db ON node_b = db.node
ORDER BY jaccard_score DESC, node_a, node_b LIMIT 50
"""


_REGISTRY.update(
    {
        "inv_g_assoc_rules": (q_g_assoc_rules, SQL_G_ASSOC),
        "inv_g_link_prediction": (q_g_link_prediction, SQL_G_LINKPRED),
        "inv_g_copurchase_edges": (q_g_copurchase_edges, SQL_G_EDGES_W2),
        "inv_g_degree_hist": (q_g_degree_hist, SQL_G_DEGREE_HIST),
        "inv_g_triangles": (q_g_triangles, SQL_G_TRIANGLES),
        "inv_g_pagerank": (q_g_pagerank, _pagerank_sql()),
    }
)


# ---------------------------------------------------------------------------
# Round 4 (continued): deterministic weighted sampling without replacement —
# Efraimidis–Spirakis exponential-race keys over the shared Knuth uniform
# (operators/features.py:weighted_sample). One projection + local top-k per
# partition (TakeOrderedAndProject); the selected SET is weight-proportional
# and engine-portable, so the oracle replays the identical key formula.
# ---------------------------------------------------------------------------


def q_x_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import features

    d = _docs(spark, sf)
    return features.weighted_sample(d, "doc_id", "n_chars", 50).select(
        "doc_id", "n_chars", "es_key"
    )


SQL_X_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars,
       round(ln(((doc_id * 2654435761) % 1048576 + 0.5) / 1048576.0)
             / n_chars + 1e-12, 9) AS es_key
FROM documents
WHERE n_chars > 0
ORDER BY es_key DESC, doc_id
LIMIT 50
"""


_REGISTRY.update(
    {"inv_x_weighted_sample": (q_x_weighted_sample, SQL_X_WEIGHTED_SAMPLE)}
)


# ---------------------------------------------------------------------------
# Round 4 (continued): EXACT Jaccard threshold self-join via prefix
# filtering (dedup.jaccard_prefix_join — AllPairs/PPJoin family). The
# deterministic all-near-duplicates complement to MinHash-LSH: candidate
# generation joins only each doc's globally-rarest prefix tokens, the
# verify intersects token arrays, and the result provably equals the
# brute-force all-pairs join the oracle runs.
# ---------------------------------------------------------------------------


def q_d_jaccard_prefix(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.jaccard_prefix_join(_docs(spark, sf), threshold=0.9)


# Brute force in the oracle: every token-sharing pair's exact Jaccard —
# prefix filtering is complete, so the filtered result sets are equal.
SQL_D_JACCARD_PREFIX = """
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(lower(trim(text)), '[\\s\\v]+')) AS tok
  FROM documents
),
toks_ne AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
sizes AS (SELECT doc_id, count(*) AS sz FROM toks_ne GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM toks_ne a JOIN toks_ne b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
j AS (
  SELECT doc_a, doc_b, n_common,
         n_common * 1.0 / (sa.sz + sb.sz - n_common) AS jac
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
)
SELECT doc_a, doc_b, n_common, round(jac + 1e-12, 6) AS jaccard
FROM j WHERE jac >= 0.9
"""


_REGISTRY.update(
    {"inv_d_jaccard_prefix": (q_d_jaccard_prefix, SQL_D_JACCARD_PREFIX)}
)


def q_d_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Exact shingle-containment join (dedup.containment_join): every
    ORDERED pair whose 3-gram shingle overlap covers ≥ 90% of the
    contained side — the quote/subset detector (high containment, low
    Jaccard when the container is much longer). Prefix-filtered candidate
    generation, brute-force-equal by the completeness proof."""
    return dedup.containment_join(_docs(spark, sf), threshold=0.9)


SQL_D_CONTAINMENT = f"""
WITH {_SHINGLE_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
c AS (
  SELECT contained_id, container_id, n_common,
         CAST(n_common AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS cont
  FROM inter JOIN sizes sa ON contained_id = sa.doc_id
)
SELECT contained_id, container_id, CAST(n_common AS BIGINT) AS n_common,
       round(cont + 1e-12, 6) AS containment
FROM c WHERE cont >= 0.9
"""


_REGISTRY.update({"inv_d_containment": (q_d_containment, SQL_D_CONTAINMENT)})


# ---------------------------------------------------------------------------
# Round 4 (continued): per-group weighted sampling — the per-language /
# per-domain corpus quota draw (features.weighted_sample_per_group). Same
# Efraimidis–Spirakis keys as inv_x_weighted_sample, per-group top-k via a
# WindowGroupLimit-pruned rank filter.
# ---------------------------------------------------------------------------


def q_x_weighted_group_sample(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import features

    d = _docs(spark, sf)
    return features.weighted_sample_per_group(
        d, "lang", "doc_id", "n_chars", 10
    ).select("doc_id", "lang", "n_chars", "es_key")


SQL_X_WEIGHTED_GROUP_SAMPLE = """
SELECT doc_id, lang, n_chars,
       round(ln(((doc_id * 2654435761) % 1048576 + 0.5) / 1048576.0)
             / n_chars + 1e-12, 9) AS es_key
FROM documents
WHERE n_chars > 0
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) <= 10
"""


_REGISTRY.update(
    {
        "inv_x_weighted_group_sample": (
            q_x_weighted_group_sample,
            SQL_X_WEIGHTED_GROUP_SAMPLE,
        )
    }
)


# ---------------------------------------------------------------------------
# Round 4 (continued): bounded multi-source BFS over the co-purchase graph
# (graph.hop_distances) — seed-set reach by hop count. Integer-only state;
# the oracle is a recursive CTE bounded at the same hop limit (UNION
# semantics keep the walk table at distinct (node, d) rows, so the
# recursion is V·hops-bounded, never path-enumerating).
# ---------------------------------------------------------------------------


def q_g_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    edges = graph.copurchase_edges(spark, sf)
    seeds = (
        load_table(spark, sf, "part")
        .filter(F.col("p_partkey") % 500 == 0)
        .select(F.col("p_partkey").alias("node"))
    )
    d = graph.hop_distances(edges, seeds, max_hops=3)
    return d.groupBy("hops").agg(F.count(F.lit(1)).alias("n_nodes"))


SQL_G_BFS_HOPS = f"""
WITH {_SQL_G_EDGES},
sym AS (SELECT src AS s, dst AS d FROM e UNION ALL SELECT dst AS s, src AS d FROM e),
seeds AS (SELECT p_partkey AS node FROM part WHERE p_partkey % 500 = 0),
walk AS (
  WITH RECURSIVE w(node, hops) AS (
    SELECT node, 0 FROM seeds
    UNION
    SELECT sym.d, w.hops + 1 FROM w JOIN sym ON sym.s = w.node WHERE w.hops < 3
  )
  SELECT node, min(hops) AS hops FROM w GROUP BY node
)
SELECT hops, count(*) AS n_nodes FROM walk GROUP BY hops
"""


_REGISTRY.update({"inv_g_bfs_hops": (q_g_bfs_hops, SQL_G_BFS_HOPS)})


# ---------------------------------------------------------------------------
# Round 4 (continued): connected components over the co-purchase graph —
# the dedup star-contraction machinery (dedup.dup_groups) applied to a
# NON-dedup edge set, proving the components operator is generic. Output is
# the component roster (root id + size), reachability-CTE oracle.
# ---------------------------------------------------------------------------


def q_g_components(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    strong = graph.copurchase_edges(spark, sf, min_weight=3).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    comps = dedup.dup_groups(strong)
    return comps.groupBy(F.col("group_id").alias("component_root")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


SQL_G_COMPONENTS = f"""
WITH RECURSIVE {_SQL_G_EDGES.lstrip()},
ew AS (SELECT src, dst FROM e WHERE weight >= 3),
sym2 AS (SELECT src, dst FROM ew UNION SELECT dst, src FROM ew),
reach(id, r) AS (
  SELECT src, src FROM sym2
  UNION
  SELECT reach.id, x.dst FROM reach JOIN sym2 x ON reach.r = x.src
),
g AS (SELECT id, min(r) AS gid FROM reach GROUP BY id)
SELECT gid AS component_root, CAST(count(*) AS BIGINT) AS n_nodes
FROM g GROUP BY gid
"""


_REGISTRY.update({"inv_g_components": (q_g_components, SQL_G_COMPONENTS)})


# ---------------------------------------------------------------------------
# Round 4 (continued): temperature-scaled mixture shares (mT5 α-sampling) —
# derive per-language target weights from the corpus itself
# (features.temperature_mixture_rates). One agg pass + broadcast totals.
# ---------------------------------------------------------------------------


def q_x_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import features

    return features.temperature_mixture_rates(
        _docs(spark, sf), "lang", alpha=0.3, weight_col="n_chars"
    )


SQL_X_TEMPERATURE_MIX = """
WITH g AS (
  SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS n FROM documents GROUP BY lang
),
t AS (SELECT sum(n) AS tot, sum(pow(n, 0.3)) AS tot_a FROM g)
SELECT lang, CAST(n AS BIGINT) AS n,
       round(n / tot + 1e-9, 6) AS share,
       round(pow(n, 0.3) / tot_a + 1e-9, 6) AS temp_share,
       round((pow(n, 0.3) / tot_a) / (n / tot) + 1e-9, 6) AS boost
FROM g, t
"""


_REGISTRY.update({"inv_x_temperature_mix": (q_x_temperature_mix, SQL_X_TEMPERATURE_MIX)})


# ---------------------------------------------------------------------------
# Round 4 (continued): PERSONALIZED PageRank — teleport mass returns only to
# a seed set (TrustRank-style "quality radiates from trusted hubs"). Same
# quantized loop and chained-CTE oracle as inv_g_pagerank, with the
# teleport term a per-node value from the broadcast seed frame.
# ---------------------------------------------------------------------------


def q_g_pagerank_seeded(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    edges = graph.copurchase_edges(spark, sf)
    seeds = (
        load_table(spark, sf, "part")
        .filter(F.col("p_partkey") % 500 == 0)
        .select(F.col("p_partkey").alias("node"))
    )
    pr = graph.pagerank(edges, iterations=10, seeds=seeds)
    return pr.orderBy(F.col("pr").desc(), F.col("node")).limit(50)


def _pagerank_seeded_sql(iterations: int = 10) -> str:
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""r{i} AS (
  SELECT t.node,
         round(t.tele + 0.85 * coalesce(c.sum_c, 0.0) + 1e-13, 10) AS pr
  FROM tele t LEFT JOIN (
    SELECT sym.d AS node, sum(r.pr / dg.deg) AS sum_c
    FROM sym JOIN {prev} r ON sym.s = r.node JOIN deg dg ON sym.s = dg.s
    GROUP BY sym.d
  ) c ON t.node = c.node)"""
        )
        prev = f"r{i}"
    return f"""
WITH {_SQL_G_EDGES},
sym AS (SELECT src AS s, dst AS d FROM e UNION ALL SELECT dst AS s, src AS d FROM e),
deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY s),
nodes AS (SELECT s AS node FROM deg),
seeds0 AS (SELECT DISTINCT p_partkey AS node FROM part WHERE p_partkey % 500 = 0),
-- seeds normalized to those PRESENT in the graph (mirrors graph.pagerank:
-- an absent seed can't receive rank, so it must not hold teleport mass)
seeds AS (SELECT s.node FROM seeds0 s JOIN nodes n ON s.node = n.node),
sc AS (SELECT count(*) AS cnt FROM seeds),
tele AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL THEN 0.15 / (SELECT cnt FROM sc) ELSE 0.0 END AS tele
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node
),
r0 AS (
  SELECT n.node,
         round(CASE WHEN s.node IS NOT NULL THEN 1.0 / (SELECT cnt FROM sc) ELSE 0.0 END + 1e-13, 10) AS pr
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node
),
{','.join(steps)}
SELECT node, pr FROM {prev} ORDER BY pr DESC, node LIMIT 50
"""


_REGISTRY.update(
    {"inv_g_pagerank_seeded": (q_g_pagerank_seeded, _pagerank_seeded_sql())}
)


# ---------------------------------------------------------------------------
# Round 4 (continued): Newman modularity — EVALUATE a partition's community
# quality (graph.modularity). The query scores the weight>=3 strong-tie
# components as communities of the weight>=2 co-purchase graph: bridges
# that only ever co-occur twice cross communities and cost Q.
# ---------------------------------------------------------------------------


def q_g_modularity(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    # derive the edge list ONCE (weight >= 3 is a subset of weight >= 2)
    # and checkpoint it — the strong-tie filter and the scored graph both
    # read the materialized frame instead of re-running the lineitem scan
    # + basket expansion twice
    g2 = graph.copurchase_edges(spark, sf, min_weight=2).localCheckpoint(
        eager=True
    )
    strong = g2.filter(F.col("weight") >= 3).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    comps = dedup.dup_groups(strong).select(
        F.col("doc_id").alias("node"), F.col("group_id").alias("g")
    )
    return graph.modularity(g2, comps)


SQL_G_MODULARITY = f"""
WITH RECURSIVE {_SQL_G_EDGES.lstrip()},
e2 AS (SELECT src, dst FROM e WHERE weight >= 2),
ew AS (SELECT src, dst FROM e WHERE weight >= 3),
sym3 AS (SELECT src, dst FROM ew UNION SELECT dst, src FROM ew),
reach(id, r) AS (
  SELECT src, src FROM sym3
  UNION
  SELECT reach.id, x.dst FROM reach JOIN sym3 x ON reach.r = x.src
),
asg AS (SELECT id AS node, min(r) AS g FROM reach GROUP BY id),
m AS (SELECT count(*) AS m FROM e2),
lab AS (
  SELECT e2.src, e2.dst,
         coalesce(sa.g, -e2.src - 1) AS ga,
         coalesce(sb.g, -e2.dst - 1) AS gb
  FROM e2 LEFT JOIN asg sa ON e2.src = sa.node LEFT JOIN asg sb ON e2.dst = sb.node
),
intra AS (SELECT ga AS g, count(*) AS m_c FROM lab WHERE ga = gb GROUP BY ga),
degs AS (
  SELECT g, count(*) AS d_c FROM (
    SELECT ga AS g FROM lab UNION ALL SELECT gb FROM lab
  ) GROUP BY g
),
per_c AS (
  SELECT degs.g, coalesce(intra.m_c, 0) AS m_c, degs.d_c
  FROM degs LEFT JOIN intra ON degs.g = intra.g
)
SELECT (SELECT m FROM m) AS m_edges,
       CAST(count(*) AS BIGINT) AS n_communities,
       round(sum(m_c / (SELECT CAST(m AS DOUBLE) FROM m)
                 - pow(d_c / (2.0 * (SELECT m FROM m)), 2.0)) + 1e-9, 6) AS q_modularity
FROM per_c
"""


_REGISTRY.update({"inv_g_modularity": (q_g_modularity, SQL_G_MODULARITY)})


# ---------------------------------------------------------------------------
# Round 4 (continued): per-symbol return autocorrelation at multiple lags —
# the momentum/mean-reversion diagnostic (indicators.return_autocorrelation).
# One window pass builds the return + all lagged copies in a single
# symbol-keyed sort; ONE groupBy computes every lag's corr as sibling
# aggregates.
# ---------------------------------------------------------------------------


def q_w_acf(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    return indicators.return_autocorrelation(s, lags=(1, 2, 3, 5, 10))


def _acf_sql(lags=(1, 2, 3, 5, 10)) -> str:
    lag_cols = ",\n    ".join(
        f"lag(r, {k}) OVER ({_WIN}) AS r{k}" for k in lags
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT symbol, {k} AS lag, round(corr(r, r{k}) + 1e-9, 6) AS acf,"
        f" count(CASE WHEN r IS NOT NULL AND r{k} IS NOT NULL THEN 1 END) AS n_obs"
        f" FROM l GROUP BY symbol"
        for k in lags
    )
    return f"""
WITH {SERIES_SQL},
r AS (
  SELECT symbol, time,
         close / nullif(lag(close, 1) OVER ({_WIN}), 0) - 1 AS r
  FROM series
),
l AS (
  SELECT symbol, r,
    {lag_cols}
  FROM r
)
{arms}
"""


_REGISTRY.update({"inv_w_acf": (q_w_acf, _acf_sql())})


# ---------------------------------------------------------------------------
# Round 4 (continued): daily cross-sectional information coefficient —
# Spearman rank-IC of the 5-bar momentum signal vs next-bar return
# (indicators.information_coefficient). Ranks are SQL-standard rank() with
# a deterministic symbol tiebreak, mirrored literally in the oracle.
# ---------------------------------------------------------------------------


def q_a_ic_momentum(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    return indicators.information_coefficient(s, signal_lag=5)


SQL_A_IC = f"""
WITH {SERIES_SQL},
r AS (
  SELECT symbol, time,
         close / nullif(lag(close, 5) OVER ({_WIN}), 0) - 1 AS sig,
         lead(close, 1) OVER ({_WIN}) / nullif(close, 0) - 1 AS fwd
  FROM series
),
pairs AS (SELECT * FROM r WHERE sig IS NOT NULL AND fwd IS NOT NULL),
ranked AS (
  SELECT time,
         CAST(rank() OVER (PARTITION BY time ORDER BY sig, symbol) AS DOUBLE) AS rs,
         CAST(rank() OVER (PARTITION BY time ORDER BY fwd, symbol) AS DOUBLE) AS rf
  FROM pairs
)
SELECT time, round(corr(rs, rf) + 1e-9, 6) AS ic, count(*) AS n_symbols
FROM ranked GROUP BY time
"""


_REGISTRY.update({"inv_a_ic_momentum": (q_a_ic_momentum, SQL_A_IC)})


# ---------------------------------------------------------------------------
# Round 4 (continued): record linkage / entity resolution
# (operators/linkage.py). Exact edit-distance threshold self-join over the
# DISTINCT part-name domain — q-gram multiset count filtering + native
# levenshtein verify — and connected-component entity ids on top (the
# typo-level complement to token-Jaccard: the reference's universe
# stitching joins listing names across sources, which is this problem one
# substitution away). The oracle runs brute-force levenshtein over the
# same domain, so candidate-set completeness is value-checked.
# ---------------------------------------------------------------------------


def q_er_editdist_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import linkage

    p = load_table(spark, sf, "part")
    return linkage.edit_distance_join(p, col="p_name", max_dist=2)


SQL_ER_EDITDIST_PAIRS = """
WITH nm AS (SELECT DISTINCT p_name AS val FROM part WHERE p_name IS NOT NULL)
SELECT a.val AS name_a, b.val AS name_b,
       CAST(levenshtein(a.val, b.val) AS INTEGER) AS dist
FROM nm a JOIN nm b
  ON a.val < b.val AND abs(length(a.val) - length(b.val)) <= 2
WHERE levenshtein(a.val, b.val) <= 2
"""


_REGISTRY.update(
    {"inv_er_editdist_pairs": (q_er_editdist_pairs, SQL_ER_EDITDIST_PAIRS)}
)


def q_er_entities(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import linkage

    p = load_table(spark, sf, "part")
    return linkage.resolve_entities(
        p, col="p_name", id_col="p_partkey", max_dist=2
    )


# Transitive closure over the value graph via a recursive reach CTE
# (64-value domain at any SF — the oracle's quadratic closure is bounded
# by the attribute domain, not the corpus); entity id = min record id
# over the reachable value set, matching dup_groups' min-root contract.
SQL_ER_ENTITIES = """
WITH RECURSIVE
nm AS (
  SELECT p_name AS val, min(p_partkey) AS rep
  FROM part WHERE p_name IS NOT NULL GROUP BY p_name
),
pairs AS (
  SELECT a.val AS va, b.val AS vb
  FROM nm a JOIN nm b
    ON a.val < b.val AND abs(length(a.val) - length(b.val)) <= 2
   AND levenshtein(a.val, b.val) <= 2
),
sym AS (SELECT va, vb FROM pairs UNION SELECT vb, va FROM pairs),
reach(id, r) AS (
  SELECT val, val FROM nm
  UNION
  SELECT reach.id, s.vb FROM reach JOIN sym s ON reach.r = s.va
),
ent AS (
  SELECT reach.id AS val, min(m.rep) AS entity_id
  FROM reach JOIN nm m ON reach.r = m.val
  GROUP BY reach.id
)
SELECT p.p_partkey, p.p_name,
       coalesce(e.entity_id, p.p_partkey) AS entity_id
FROM part p LEFT JOIN ent e ON p.p_name = e.val
"""


_REGISTRY.update({"inv_er_entities": (q_er_entities, SQL_ER_ENTITIES)})


# ---------------------------------------------------------------------------
# Round 4 (continued): LSH recall self-evaluation — the dedup twin of
# inv_sim_ann_recall's "measure, don't guess" contract. Ground truth is
# the EXACT token-Jaccard pair set from the prefix join (provably
# complete); the candidate set is token-level MinHash banding (12 hashes,
# 4 bands: detection probability 1-(1-s^3)^4, ≈0.995 at s=0.9). One plan
# computes truth, candidates, their intersection, and the recall — so the
# banding config's quality claim is a measured number in the registry,
# not a formula in a docstring. Scoped to one source shard: the estimate
# is statistically identical and the truth join stays cheap at any SF.
# ---------------------------------------------------------------------------


def q_d_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf).filter(F.col("source") == "src0")
    # both pair frames feed TWO consumers (the hit join and the tagged
    # union) — checkpoint them once or the multi-million-row candidate
    # distinct / verify / banding plans re-execute per consumer (Spark
    # shares no common subplans across DataFrame reuse)
    truth = (
        dedup.jaccard_prefix_join(d, threshold=0.9)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    cand = dedup.minhash_lsh_pairs(
        d, num_hashes=12, bands=4, shingle_n=1
    ).localCheckpoint(eager=True)
    hit = truth.join(cand, ["doc_a", "doc_b"])
    tagged = (
        truth.select(F.lit("t").alias("k"))
        .unionAll(cand.select(F.lit("c").alias("k")))
        .unionAll(hit.select(F.lit("h").alias("k")))
    )
    counts = tagged.groupBy().agg(
        F.sum(F.when(F.col("k") == "t", 1).otherwise(0)).cast("long").alias("n_true"),
        F.sum(F.when(F.col("k") == "c", 1).otherwise(0)).cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("k") == "h", 1).otherwise(0)).cast("long").alias("n_hit"),
    )
    return counts.select(
        "n_true",
        "n_candidates",
        "n_hit",
        F.round(
            F.col("n_hit")
            / F.when(F.col("n_true") == 0, F.lit(None)).otherwise(F.col("n_true"))
            + F.lit(1e-9),
            6,
        ).alias("recall"),
    )


# Truth side mirrors jaccard_prefix_join's convention (empty tokens
# dropped); the MinHash side mirrors shingles(n=1) which keeps whatever
# split() produced — two CTE families (shf vs sh) keep each mirror exact.
SQL_D_LSH_RECALL = f"""
WITH norm AS (
  SELECT doc_id, {_NORM_SQL} AS nt FROM documents WHERE source = 'src0'
),
tk AS (
  SELECT DISTINCT doc_id, unnest(string_split(nt, ' ')) AS shingle FROM norm
),
sh AS (SELECT doc_id, shingle FROM tk),
shf AS (SELECT doc_id, shingle FROM tk WHERE shingle <> ''),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.9
),
{_minhash_sig_sql()},
{_band_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
hit AS (
  SELECT t.doc_a FROM truth t
  JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       round((SELECT count(*) FROM hit) * 1.0
             / nullif((SELECT count(*) FROM truth), 0) + 1e-9, 6) AS recall
"""


_REGISTRY.update({"inv_d_lsh_recall": (q_d_lsh_recall, SQL_D_LSH_RECALL)})


# ---------------------------------------------------------------------------
# Round 4 (continued): supervised text classification health check —
# add-1 multinomial Naive Bayes (text.nb_confusion), the
# fastText/WebText-classifier shape reduced to pure counting. Trained on
# the shared Knuth-hash 80% split, evaluated as a confusion matrix on the
# held-out 20%; every score is counts + ln, so the SQL twin is exact
# under the round-both-sides discipline.
# ---------------------------------------------------------------------------


def q_t_nb_confusion(spark: SparkSession, sf: str) -> DataFrame:
    return text.nb_confusion(_docs(spark, sf))


SQL_T_NB_CONFUSION = f"""
WITH norm AS (
  SELECT doc_id, lang, {_NORM_SQL} AS nt,
         (doc_id * 2654435761) % 100 < 80 AS is_train
  FROM documents
),
tok AS (
  SELECT doc_id, lang, is_train, unnest(string_split(nt, ' ')) AS w
  FROM norm
),
tokne AS (SELECT * FROM tok WHERE w <> ''),
ct AS (
  SELECT lang AS c, w, count(*) AS cnt
  FROM tokne WHERE is_train GROUP BY 1, 2
),
nc AS (SELECT c, sum(cnt) AS n FROM ct GROUP BY c),
v AS (SELECT count(DISTINCT w) AS vv FROM tokne WHERE is_train),
pri AS (
  SELECT lang AS c, count(*) AS nd FROM norm WHERE is_train GROUP BY 1
),
tot AS (SELECT sum(nd) AS ntr FROM pri),
consts AS (
  SELECT p.c, ln(p.nd / tot.ntr) AS ln_prior, ln(nc.n + v.vv) AS ln_denom
  FROM pri p CROSS JOIN tot CROSS JOIN v
  JOIN nc ON nc.c = p.c
),
tf AS (
  SELECT doc_id, lang AS true_label, w, count(*) AS tf
  FROM tokne WHERE NOT is_train GROUP BY 1, 2, 3
),
seen AS (
  SELECT tf.doc_id, ct.c, sum(tf.tf * ln(ct.cnt + 1)) AS s
  FROM tf JOIN ct ON tf.w = ct.w GROUP BY 1, 2
),
dlen AS (
  SELECT n.doc_id, n.lang AS true_label,
         coalesce(t.len, 0) AS len
  FROM norm n
  LEFT JOIN (
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY doc_id
  ) t ON n.doc_id = t.doc_id
  WHERE NOT n.is_train
),
scores AS (
  SELECT dl.doc_id, dl.true_label, k.c,
         round(k.ln_prior - dl.len * k.ln_denom + coalesce(s.s, 0) + 1e-9, 6)
           AS score
  FROM dlen dl CROSS JOIN consts k
  LEFT JOIN seen s ON s.doc_id = dl.doc_id AND s.c = k.c
),
pred AS (
  SELECT doc_id, true_label, c AS pred_label,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c ASC) AS rn
  FROM scores
)
SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1 GROUP BY 1, 2
"""


_REGISTRY.update({"inv_t_nb_confusion": (q_t_nb_confusion, SQL_T_NB_CONFUSION)})


# ---------------------------------------------------------------------------
# Round 4 (continued): k-core decomposition (graph.kcore) — iterative
# peeling of nodes under degree k over the weight>=1 co-purchase graph.
# The densest-region detector a link-graph curation pass runs (spam rings
# sit in high cores; organic hubs shed early). Semantics pinned to 12
# peel rounds so the chained-CTE unrolling below is exact; the Spark loop
# breaks early at the fixpoint, which equals every longer unroll.
# ---------------------------------------------------------------------------


def q_g_kcore(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    # k=70 sits just under the co-purchase graph's median degree (~119 at
    # both SFs): the peel cascades meaningfully (nodes whose neighborhoods
    # thin out drop in waves) yet converges to a non-trivial core within
    # the 12-round pin — higher k collapses the whole near-random graph
    # (the classic G(n,p) core phase transition), lower k peels nothing.
    edges = graph.copurchase_edges(spark, sf, min_weight=1)
    return graph.kcore(edges, k=70, max_rounds=12)


def _kcore_sql(k: int = 70, rounds: int = 12) -> str:
    parts = [
        "ew AS (SELECT src, dst FROM e WHERE weight >= 1)",
        "s0 AS MATERIALIZED (SELECT src, dst FROM ew UNION ALL SELECT dst, src FROM ew)",
    ]
    prev = "s0"
    for r in range(1, rounds + 1):
        # AS MATERIALIZED: every s{r} is referenced twice (degree CTE +
        # next round) — without the hint DuckDB inlines the chain and the
        # plan tree doubles per round (2^rounds scans of lineitem)
        parts.append(
            f"n{r} AS MATERIALIZED (SELECT src AS node FROM {prev} "
            f"GROUP BY src HAVING count(*) >= {k})"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT t.src, t.dst FROM {prev} t "
            f"JOIN n{r} a ON t.src = a.node JOIN n{r} b ON t.dst = b.node)"
        )
        prev = f"s{r}"
    return ",\n".join(parts) + f"""
SELECT_TAIL SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
FROM {prev} GROUP BY src HAVING count(*) >= {k}
""".replace("SELECT_TAIL", "")


SQL_G_KCORE = f"""
WITH {_SQL_G_EDGES},
{_kcore_sql()}
"""


_REGISTRY.update({"inv_g_kcore": (q_g_kcore, SQL_G_KCORE)})


# ---------------------------------------------------------------------------
# Round 4 (continued): as-of NEAREST join — completes the as-of family
# (backward / forward / nearest, the three pandas merge_asof directions).
# Each tick gains the bar whose day boundary is CLOSEST in absolute time,
# ties to backward; tolerance bounds both sides. The Spark side stays the
# union-fill shape (one key exchange, two window passes, no join); the
# oracle brute-forces per-key candidates and picks by (gap, backward-
# first) rank — quadratic per key, oracle-only.
# ---------------------------------------------------------------------------


def q_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import asof

    s = _series(spark, sf).drop("event_id")
    b = _bars(spark, sf).select(
        "symbol",
        F.col("d").cast("timestamp").alias("bar_ts"),
        F.col("d").alias("bar_d"),
        F.col("close").alias("bar_close"),
    )
    out = asof.asof_join(
        s, b, key="symbol", left_time="time", right_time="bar_ts",
        payload=["bar_d", "bar_close"], direction="nearest",
        tolerance_seconds=86400.0,
    )
    return out.select(
        "symbol", "time",
        F.round("close", 4).alias("close"),
        "bar_d",
        F.round("bar_close", 4).alias("bar_close"),
    )


SQL_ASOF_NEAREST = f"""
WITH {BARS_SQL},
ev AS (
  SELECT user_id AS symbol, ts AS time, value AS close FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
marks AS (
  SELECT symbol, CAST(d AS TIMESTAMP) AS bar_ts, d AS bar_d, close AS bar_close
  FROM bars
),
cand AS (
  SELECT e.symbol, e.time, e.close, m.bar_d, m.bar_close,
         abs(epoch(e.time) - epoch(m.bar_ts)) AS gap,
         (m.bar_ts <= e.time) AS is_b,
         row_number() OVER (
           PARTITION BY e.symbol, e.time
           ORDER BY abs(epoch(e.time) - epoch(m.bar_ts)),
                    (m.bar_ts <= e.time) DESC, m.bar_ts
         ) AS rn
  FROM ev e JOIN marks m ON e.symbol = m.symbol
  WHERE abs(epoch(e.time) - epoch(m.bar_ts)) <= 86400
),
best AS (SELECT * FROM cand WHERE rn = 1)
SELECT e.symbol, e.time, round(e.close, 4) AS close, b.bar_d,
       round(b.bar_close, 4) AS bar_close
FROM ev e
LEFT JOIN best b ON e.symbol = b.symbol AND e.time = b.time
"""


_REGISTRY.update({"inv_asof_nearest": (q_asof_nearest, SQL_ASOF_NEAREST)})


# ---------------------------------------------------------------------------
# Round 4 (continued): two classic volume-indicator windows rounding out
# the W-family — on-balance volume (cumulative signed volume) and the
# Money Flow Index (volume-weighted RSI over typical price). Both are one
# symbol-window chain, no joins; oracles mirror the window algebra
# literally under the shared rounding nudge.
# ---------------------------------------------------------------------------


def q_w_obv(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    return indicators.add_obv(b).select("symbol", "d", "obv")


SQL_W_OBV = f"""
WITH {BARS_SQL},
x AS (
  SELECT symbol, d, close, volume,
         lag(close) OVER (PARTITION BY symbol ORDER BY d) AS pc
  FROM bars
),
s AS (
  SELECT symbol, d,
         CASE WHEN pc IS NULL OR close = pc THEN 0.0
              WHEN close > pc THEN volume ELSE -volume END AS sv
  FROM x
)
SELECT symbol, d,
       round(sum(sv) OVER (PARTITION BY symbol ORDER BY d
                           ROWS UNBOUNDED PRECEDING) + 1e-9, 4) AS obv
FROM s
"""


def q_w_mfi(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    return indicators.add_mfi(b).select("symbol", "d", "mfi")


SQL_W_MFI = f"""
WITH {BARS_SQL},
y AS (
  SELECT symbol, d, (high + low + close) / 3 AS tp, volume,
         lag((high + low + close) / 3) OVER (PARTITION BY symbol ORDER BY d) AS tpp
  FROM bars
),
z AS (
  SELECT symbol, d,
         CASE WHEN tpp IS NOT NULL AND tp > tpp THEN tp * volume ELSE 0.0 END AS pos,
         CASE WHEN tpp IS NOT NULL AND tp < tpp THEN tp * volume ELSE 0.0 END AS neg,
         CASE WHEN tpp IS NULL THEN 0 ELSE 1 END AS hasprev
  FROM y
)
SELECT symbol, d,
       CASE WHEN c >= 14 AND p + n > 0
            THEN round(100.0 * p / (p + n) + 1e-9, 6) END AS mfi
FROM (
  SELECT symbol, d,
         sum(pos) OVER f AS p, sum(neg) OVER f AS n, sum(hasprev) OVER f AS c
  FROM z
  WINDOW f AS (PARTITION BY symbol ORDER BY d
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
"""


_REGISTRY.update(
    {
        "inv_w_obv": (q_w_obv, SQL_W_OBV),
        "inv_w_mfi": (q_w_mfi, SQL_W_MFI),
    }
)


# ---------------------------------------------------------------------------
# Round 4 (continued): cross-source duplication matrix — which sources
# near-duplicate which (the snapshot-contamination question a crawl
# pipeline asks before mixing dumps). Composes the MinHash banding pair
# stream with the documents' source labels: one broadcast-sized label
# join per side, one (source_a, source_b) aggregation; least/greatest
# canonicalizes the unordered source pair.
# ---------------------------------------------------------------------------


def q_d_cross_source(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=12, bands=4)
    lab = d.select("doc_id", "source")
    return (
        pairs.join(lab.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("__sa")), "doc_a")
        .join(lab.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("__sb")), "doc_b")
        .groupBy(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


SQL_D_CROSS_SOURCE = f"""
WITH {_SHINGLE_SQL},
{_minhash_sig_sql()},
{_band_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM cand
JOIN documents da ON cand.doc_a = da.doc_id
JOIN documents db ON cand.doc_b = db.doc_id
GROUP BY 1, 2
"""


_REGISTRY.update({"inv_d_cross_source": (q_d_cross_source, SQL_D_CROSS_SOURCE)})


# ---------------------------------------------------------------------------
# Round 4 (continued): rolling cross-series correlation — the pairs-
# trading / lead-lag diagnostic. The two smallest symbol ids' bar series
# align on date (inner join), daily returns correlate over a trailing
# 10-session window (null until full; the synthetic calendar is 30
# distinct days, so a 10-session window leaves a real output tail). The aligned pair series is
# O(trading days) rows at any corpus size, so the unpartitioned window
# is bounded by the calendar — the same whole-frame-over-aggregate
# pattern as the market summary (W20), documented there.
# ---------------------------------------------------------------------------


def q_w_rolling_corr(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    # ONE lazy plan, no driver round-trips: the two smallest symbols come
    # from a TakeOrderedAndProject (distinct → orderBy → limit 2) and are
    # rank-tagged by a window over that ≤2-row frame; a broadcast semi
    # join + conditional agg replaces the old two-.first()-then-filter
    # driver loop (same values — bars are unique per (symbol, d), so the
    # per-date max(when(rk=...)) IS the inner join on d).
    syms = (
        b.select("symbol")
        .distinct()
        .orderBy("symbol")
        .limit(2)
        .withColumn("__rk", F.row_number().over(Window.orderBy("symbol")))
    )
    j = (
        b.join(F.broadcast(syms), "symbol")
        .groupBy("d")
        .agg(
            F.max(F.when(F.col("__rk") == 1, F.col("close"))).alias("__ca"),
            F.max(F.when(F.col("__rk") == 2, F.col("close"))).alias("__cb"),
        )
        .filter(F.col("__ca").isNotNull() & F.col("__cb").isNotNull())
    )
    wo = Window.orderBy("d")
    ra = F.col("__ca") / F.lag("__ca").over(wo) - 1
    rb = F.col("__cb") / F.lag("__cb").over(wo) - 1
    j = j.select("d", ra.alias("__ra"), rb.alias("__rb"))
    frame = wo.rowsBetween(-9, 0)
    corr = F.when(
        F.count("__ra").over(frame) >= 10, F.corr("__ra", "__rb").over(frame)
    )
    return j.select(
        "d", F.round(corr + F.lit(1e-9), 6).alias("corr_10d")
    ).filter(F.col("corr_10d").isNotNull())


SQL_W_ROLLING_CORR = f"""
WITH {BARS_SQL},
syms AS (
  SELECT (SELECT min(symbol) FROM bars) AS lo,
         (SELECT min(symbol) FROM bars
          WHERE symbol > (SELECT min(symbol) FROM bars)) AS lo2
),
j AS (
  SELECT a.d, a.close AS ca, b.close AS cb
  FROM bars a JOIN bars b ON a.d = b.d, syms
  WHERE a.symbol = syms.lo AND b.symbol = syms.lo2
),
r AS (
  SELECT d,
         ca / lag(ca) OVER (ORDER BY d) - 1 AS ra,
         cb / lag(cb) OVER (ORDER BY d) - 1 AS rb
  FROM j
),
c AS (
  SELECT d,
         CASE WHEN count(ra) OVER f >= 10 THEN corr(ra, rb) OVER f END AS cc
  FROM r
  WINDOW f AS (ORDER BY d ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT d, round(cc + 1e-9, 6) AS corr_10d FROM c WHERE cc IS NOT NULL
"""


_REGISTRY.update({"inv_w_rolling_corr": (q_w_rolling_corr, SQL_W_ROLLING_CORR)})


# ---------------------------------------------------------------------------
# Round 4 (continued): bipartite HITS (graph.hits_bipartite) — hubs are
# orders, authorities parts, Kleinberg's mutual reinforcement on the
# basket→item graph (the projected co-purchase graph is undirected, where
# HITS degenerates to hubs ≡ authorities). L1-normalized, 10dp-quantized
# per half-step, so the chained-CTE unrolling is exact — the pagerank
# contract. AS MATERIALIZED on every per-round CTE: each is referenced
# twice (scalar total + projection), and DuckDB would otherwise inline
# the chain multiplicatively.
# ---------------------------------------------------------------------------


def q_g_hits(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    # 5 iterations: the mutual-reinforcement ranking is near-stable by
    # then on this graph (measured: 49 of the top-50 authority items
    # shared between the 5- and 8-round fixpoints, with only late-decimal
    # score drift); each extra round costs a fixed ~1.2 s of join+agg
    # jobs at sf0.1, so the pin balances signal against the bench budget.
    # The oracle unrolls the same 5 rounds.
    return graph.hits_bipartite(li, "ok", "pk", iterations=5)


def _hits_sql(iterations: int = 8) -> str:
    steps = []
    prev_h = "h0"
    for i in range(1, iterations + 1):
        # hub update is a quantized RAW sum (no normalization): the next
        # auth step's L1 divides any positive scaling out, so the auth
        # sequence equals the both-normalized textbook form — mirrors
        # graph.hits_bipartite exactly.
        steps.append(
            f"""ar{i} AS MATERIALIZED (
  SELECT li.pk AS i, sum(h.v) AS raw
  FROM li JOIN {prev_h} h ON li.ok = h.b GROUP BY li.pk),
a{i} AS MATERIALIZED (
  SELECT i, round(raw / (SELECT sum(raw) FROM ar{i}) + 1e-13, 10) AS v
  FROM ar{i}),
h{i} AS MATERIALIZED (
  SELECT li.ok AS b, round(sum(a.v) + 1e-13, 10) AS v
  FROM li JOIN a{i} a ON li.pk = a.i GROUP BY li.ok)"""
        )
        prev_h = f"h{i}"
    return f"""
WITH li0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
li AS MATERIALIZED (
  SELECT ok, pk FROM (
    SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rn
    FROM li0
  ) WHERE rn <= 64
),
h0 AS MATERIALIZED (
  SELECT DISTINCT ok AS b,
         round(1.0 / (SELECT count(DISTINCT ok) FROM li) + 1e-13, 10) AS v
  FROM li
),
{','.join(steps)}
SELECT i AS item, v AS auth FROM a{iterations}
"""


_REGISTRY.update({"inv_g_hits": (q_g_hits, _hits_sql(iterations=5))})


# ---------------------------------------------------------------------------
# Round 4 (continued): two data-quality diagnostics. Calendar-gap
# detection — per symbol, how many sessions of the global trading
# calendar are missing and the longest consecutive missing run (the
# dead-feed / partial-backfill detector: a symbol quietly absent for a
# stretch corrupts every window indicator over it). One distinct-dates
# frame (O(days)) broadcast against per-symbol presence; the longest run
# computes via the gaps-and-islands rank difference, all native windows.
# ---------------------------------------------------------------------------


def q_q_calendar_gaps(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf).select("symbol", "d")
    cal = b.select("d").distinct()
    grid = b.select("symbol").distinct().crossJoin(F.broadcast(cal))
    missing = grid.join(b, ["symbol", "d"], "left_anti")
    w = Window.partitionBy("symbol").orderBy("d")
    runs = (
        missing.withColumn("__rn", F.row_number().over(w))
        .withColumn("__grp", F.date_sub(F.col("d"), F.col("__rn")))
        .groupBy("symbol", "__grp")
        .agg(F.count(F.lit(1)).alias("__run"))
    )
    return (
        runs.groupBy("symbol")
        .agg(
            F.sum("__run").cast("long").alias("n_missing"),
            F.max("__run").cast("long").alias("longest_gap"),
        )
    )


SQL_Q_CALENDAR_GAPS = f"""
WITH {BARS_SQL},
cal AS (SELECT DISTINCT d FROM bars),
syms AS (SELECT DISTINCT symbol FROM bars),
miss AS (
  SELECT s.symbol, c.d FROM syms s CROSS JOIN cal c
  WHERE NOT EXISTS (
    SELECT 1 FROM bars b WHERE b.symbol = s.symbol AND b.d = c.d
  )
),
g AS (
  SELECT symbol,
         d - CAST(row_number() OVER (PARTITION BY symbol ORDER BY d) AS INTEGER) AS grp
  FROM miss
),
per AS (SELECT symbol, grp, count(*) AS run FROM g GROUP BY symbol, grp)
SELECT symbol, CAST(sum(run) AS BIGINT) AS n_missing,
       CAST(max(run) AS BIGINT) AS longest_gap
FROM per GROUP BY symbol
"""


_REGISTRY.update({"inv_q_calendar_gaps": (q_q_calendar_gaps, SQL_Q_CALENDAR_GAPS)})


# Benford first-digit distribution over traded values — the classic
# fabricated-data screen: organic multiplicative quantities follow
# log10(1+1/d); per digit, observed share vs Benford expectation and the
# chi-square contribution. One scan + one 9-row aggregation.


def q_q_benford(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    digit = F.substring(
        F.regexp_replace(F.format_number(F.col("value").cast("double"), 10), r"[0.,-]", ""),
        1,
        1,
    ).cast("int")
    counts = e.select(digit.alias("digit")).filter(F.col("digit") > 0).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("__t"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("__t") + F.lit(1e-9), 6).alias("observed"),
            F.round(expected + F.lit(1e-9), 6).alias("benford"),
            F.round(
                F.pow(F.col("n") / F.col("__t") - expected, 2) / expected
                + F.lit(1e-9),
                6,
            ).alias("chi2_term"),
        )
    )


SQL_Q_BENFORD = """
WITH v AS (
  SELECT TRY_CAST(substr(regexp_replace(format('{:.10f}', CAST(value AS DOUBLE)), '[0.,-]', '', 'g'), 1, 1) AS INTEGER) AS digit
  FROM events WHERE value IS NOT NULL AND value > 0
),
c AS (SELECT digit, count(*) AS n FROM v WHERE digit > 0 GROUP BY digit),
t AS (SELECT sum(n) AS tot FROM c)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(n / tot + 1e-9, 6) AS observed,
       round(log10(1.0 + 1.0 / digit) + 1e-9, 6) AS benford,
       round(pow(n / tot - log10(1.0 + 1.0 / digit), 2)
             / log10(1.0 + 1.0 / digit) + 1e-9, 6) AS chi2_term
FROM c CROSS JOIN t
"""


_REGISTRY.update({"inv_q_benford": (q_q_benford, SQL_Q_BENFORD)})


# ---------------------------------------------------------------------------
# Round 4 (continued): two curation-statistics projections. Rank
# normalization — quality scores mapped to their per-language percentile
# (percent_rank), the engine-portable "uniformize the score before
# thresholding across heterogeneous domains" transform (raw quality
# distributions differ by language; a single global cutoff over- or
# under-prunes whole languages). Lexical diversity — per-doc type/token
# ratio and hapax share, the classic repetitiveness screens.
# ---------------------------------------------------------------------------


def q_x_rank_normalize(spark: SparkSession, sf: str) -> DataFrame:
    d = text.add_quality_score(text.add_token_stats(_docs(spark, sf)))
    w = Window.partitionBy("lang").orderBy("quality_score", "doc_id")
    return d.select(
        "doc_id",
        "lang",
        "quality_score",
        F.round(F.percent_rank().over(w) + F.lit(1e-9), 6).alias("quality_pct"),
    )


SQL_X_RANK_NORMALIZE = f"""
WITH n AS (SELECT doc_id, lang, {_NORM_SQL} AS nt FROM documents),
s AS (SELECT doc_id, lang, nt, len(string_split(nt, ' ')) AS n_tok,
             {{STOP_HITS}} AS stop_hits FROM n),
r AS (
  SELECT doc_id, lang,
         least(length(nt) / 500.0, 1.0) AS len_score,
         round(stop_hits / CAST(greatest(n_tok, 1) AS DOUBLE), 6) AS stopword_ratio
  FROM s
),
q AS (
  SELECT doc_id, lang,
         round(0.5 * len_score + 0.5 * least(stopword_ratio * 5.0, 1.0) + 1e-9, 6)
           AS quality_score
  FROM r
)
SELECT doc_id, lang, quality_score,
       round(percent_rank() OVER (PARTITION BY lang
                                  ORDER BY quality_score, doc_id) + 1e-9, 6)
         AS quality_pct
FROM q
""".replace("{STOP_HITS}", _stop_hits_sql())


_REGISTRY.update({"inv_x_rank_normalize": (q_x_rank_normalize, SQL_X_RANK_NORMALIZE)})


def q_t_lexical_diversity(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    toks = d.select(
        "doc_id",
        F.explode(F.split(text.normalized(F.col("text")), " ")).alias("__w"),
    ).filter(F.col("__w") != "")
    per_tok = toks.groupBy("doc_id", "__w").agg(F.count(F.lit(1)).alias("__c"))
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("__c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.round(F.col("n_types") / F.col("n_tokens") + F.lit(1e-9), 6).alias("ttr"),
            F.round(F.col("n_hapax") / F.col("n_types") + F.lit(1e-9), 6).alias("hapax_share"),
        )
    )


SQL_T_LEXICAL_DIVERSITY = f"""
WITH n AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
tok AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS w FROM n),
tokne AS (SELECT doc_id, w FROM tok WHERE w <> ''),
per AS (SELECT doc_id, w, count(*) AS c FROM tokne GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(count(*) * 1.0 / sum(c) + 1e-9, 6) AS ttr,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*) + 1e-9, 6)
         AS hapax_share
FROM per GROUP BY doc_id
"""


_REGISTRY.update(
    {"inv_t_lexical_diversity": (q_t_lexical_diversity, SQL_T_LEXICAL_DIVERSITY)}
)


# ---------------------------------------------------------------------------
# Round 4 (continued): decile factor backtest — the canonical quant
# evaluation: each session, rank symbols into deciles by trailing
# 5-session momentum, hold one session, report each decile's mean
# forward return and hit rate across all sessions. A monotone
# decile→return profile is what validates a signal before any screener
# consumes it (the aggregate twin of the rank-IC diagnostic). All native
# windows: two lag/lead passes over the symbol exchange, one ntile over
# the date partition, one final 10-row aggregation.
# ---------------------------------------------------------------------------


def q_a_decile_backtest(spark: SparkSession, sf: str) -> DataFrame:
    s = _series(spark, sf)
    w = Window.partitionBy("symbol").orderBy("time")
    r = s.select(
        "symbol",
        "time",
        (F.col("close") / F.lag("close", 5).over(w) - 1).alias("__sig"),
        (F.lead("close", 1).over(w) / F.col("close") - 1).alias("__fwd"),
    ).filter(F.col("__sig").isNotNull() & F.col("__fwd").isNotNull())
    wd = Window.partitionBy("time").orderBy("__sig", "symbol")
    dec = r.withColumn("decile", F.ntile(10).over(wd))
    return (
        dec.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.round(F.avg("__fwd") + F.lit(1e-9), 6).alias("mean_fwd_ret"),
            F.round(
                F.avg(F.when(F.col("__fwd") > 0, 1.0).otherwise(0.0))
                + F.lit(1e-9),
                6,
            ).alias("hit_rate"),
        )
    )


SQL_A_DECILE_BACKTEST = f"""
WITH {SERIES_SQL},
r AS (
  SELECT symbol, time,
         close / lag(close, 5) OVER ({_WIN}) - 1 AS sig,
         lead(close, 1) OVER ({_WIN}) / close - 1 AS fwd
  FROM series
),
ok AS (SELECT * FROM r WHERE sig IS NOT NULL AND fwd IS NOT NULL),
dec AS (
  SELECT fwd,
         ntile(10) OVER (PARTITION BY time ORDER BY sig, symbol) AS decile
  FROM ok
)
SELECT CAST(decile AS INTEGER) AS decile, CAST(count(*) AS BIGINT) AS n_obs,
       round(avg(fwd) + 1e-9, 6) AS mean_fwd_ret,
       round(avg(CASE WHEN fwd > 0 THEN 1.0 ELSE 0.0 END) + 1e-9, 6) AS hit_rate
FROM dec GROUP BY decile
"""


_REGISTRY.update({"inv_a_decile_backtest": (q_a_decile_backtest, SQL_A_DECILE_BACKTEST)})


# ---------------------------------------------------------------------------
# Round 4 (continued): LSH banding sweep — the tuning twin of
# inv_d_lsh_recall. The bands/rows split of a fixed 12-hash signature is
# THE MinHash knob (more bands = higher recall and more candidates);
# this query measures all three legal configs (2×6, 4×3, 6×2) against
# the SAME exact truth set in one plan, so the knob's tradeoff curve is
# a registry artifact instead of an s-curve plot in a notebook. Truth
# and per-config candidate frames are checkpointed once each (multi-
# consumer discipline).
# ---------------------------------------------------------------------------


def q_d_lsh_band_sweep(spark: SparkSession, sf: str) -> DataFrame:
    # r9 (guide §2.6 — overlap independent jobs): the five eager
    # materializations form a shallow DAG — truth (exact Jaccard) and sig
    # (one corpus shingle+hash pass, shared by all three band configs; the
    # SQL twin computes its sig CTE once too) are mutually independent, and
    # the three per-band candidate frames depend only on sig — but ran as
    # five serial narrow jobs. A thread pool submits truth+sig together,
    # then the three band configs together. Same-JVM A/B: 3.8-4.4 s →
    # 1.9-2.3 s, hash-identical (each job's plan is unchanged).
    from concurrent.futures import ThreadPoolExecutor

    d = _docs(spark, sf).filter(F.col("source") == "src0")
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_truth = pool.submit(
            lambda: dedup.jaccard_prefix_join(d, threshold=0.9)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        f_sig = pool.submit(
            lambda: dedup.minhash_signatures(
                d, text_col="text", id_col="doc_id", num_hashes=12, shingle_n=1
            ).localCheckpoint(eager=True)
        )
        sig = f_sig.result()
        f_cands = [
            pool.submit(
                lambda b=b: dedup.minhash_lsh_pairs(
                    d, num_hashes=12, bands=b, shingle_n=1, sig=sig
                ).localCheckpoint(eager=True)
            )
            for b in (2, 4, 6)
        ]
        truth = f_truth.result()
        cands = dict(zip((2, 4, 6), (f.result() for f in f_cands)))
    n_true = truth.count()
    outs = []
    for bands in (2, 4, 6):
        cand = cands[bands]
        hit = truth.join(cand, ["doc_a", "doc_b"])
        tagged = cand.select(F.lit("c").alias("k")).unionAll(
            hit.select(F.lit("h").alias("k"))
        )
        # coalesce: an all-rejecting config yields an EMPTY tagged union,
        # where a bare sum aggregates to NULL but the SQL twin's count(*)
        # scalar subqueries yield 0
        outs.append(
            tagged.groupBy().agg(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(12 // bands).cast("int").alias("rows_per_band"),
                F.lit(n_true).cast("long").alias("n_true"),
                F.coalesce(
                    F.sum(F.when(F.col("k") == "c", 1).otherwise(0)), F.lit(0)
                )
                .cast("long")
                .alias("n_candidates"),
                F.coalesce(
                    F.sum(F.when(F.col("k") == "h", 1).otherwise(0)), F.lit(0)
                )
                .cast("long")
                .alias("n_hit"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.select(
        "bands",
        "rows_per_band",
        "n_true",
        "n_candidates",
        "n_hit",
        F.round(
            F.col("n_hit")
            / F.when(F.col("n_true") == 0, F.lit(None)).otherwise(F.col("n_true"))
            + F.lit(1e-9),
            6,
        ).alias("recall"),
    )


def _band_sweep_sql() -> str:
    parts = []
    for bands in (2, 4, 6):
        rows = 12 // bands
        band_selects = []
        for b in range(bands):
            cols = ", ".join(f"mh_{b * rows + r}" for r in range(rows))
            band_selects.append(
                f"SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS bucket FROM sig"
            )
        parts.append(
            f"buckets{bands} AS ({' UNION ALL '.join(band_selects)}),\n"
            f"cand{bands} AS MATERIALIZED (\n"
            f"  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
            f"  FROM buckets{bands} a JOIN buckets{bands} b\n"
            f"    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),\n"
            f"hit{bands} AS MATERIALIZED (\n"
            f"  SELECT t.doc_a FROM truth t JOIN cand{bands} c\n"
            f"    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)"
        )
    selects = []
    for bands in (2, 4, 6):
        selects.append(
            f"""SELECT {bands} AS bands, {12 // bands} AS rows_per_band,
       CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM cand{bands}) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM hit{bands}) AS BIGINT) AS n_hit,
       round((SELECT count(*) FROM hit{bands}) * 1.0
             / nullif((SELECT count(*) FROM truth), 0) + 1e-9, 6) AS recall"""
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


SQL_D_LSH_BAND_SWEEP = f"""
WITH norm AS (
  SELECT doc_id, {_NORM_SQL} AS nt FROM documents WHERE source = 'src0'
),
tk AS (
  SELECT DISTINCT doc_id, unnest(string_split(nt, ' ')) AS shingle FROM norm
),
sh AS (SELECT doc_id, shingle FROM tk),
shf AS (SELECT doc_id, shingle FROM tk WHERE shingle <> ''),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS MATERIALIZED (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.9
),
{_minhash_sig_sql()},
{_band_sweep_sql()}
"""


_REGISTRY.update({"inv_d_lsh_band_sweep": (q_d_lsh_band_sweep, SQL_D_LSH_BAND_SWEEP)})


# ---------------------------------------------------------------------------
# Round 4 (continued): entity resolution on the ADVERSARIAL attribute
# domain — customer names share a long constant prefix plus a dense
# numeric suffix ("Customer#000000123"), the key-styled string shape
# that defeats naive prefix blocking. The q-gram COUNT bound holds
# anyway: at len 18 / k 1 / q 3 a candidate must share 13 of 16 grams,
# which forces agreement across most of the digit region, so the filter
# prunes hard exactly where the common prefix is useless. The scoped
# market segment keeps the brute-force oracle quadratic-in-3k, not 15k.
# ---------------------------------------------------------------------------


def q_er_customer_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import linkage

    c = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    return linkage.edit_distance_join(c, col="c_name", max_dist=1)


SQL_ER_CUSTOMER_PAIRS = """
WITH nm AS (
  SELECT DISTINCT c_name AS val FROM customer
  WHERE c_mktsegment = 'AUTOMOBILE' AND c_name IS NOT NULL
)
SELECT a.val AS name_a, b.val AS name_b,
       CAST(levenshtein(a.val, b.val) AS INTEGER) AS dist
FROM nm a JOIN nm b
  ON a.val < b.val AND abs(length(a.val) - length(b.val)) <= 1
WHERE levenshtein(a.val, b.val) <= 1
"""


_REGISTRY.update(
    {"inv_er_customer_pairs": (q_er_customer_pairs, SQL_ER_CUSTOMER_PAIRS)}
)


# ---------------------------------------------------------------------------
# Round 4 (final): Zipf fit — the rank-frequency log-log slope of the
# corpus vocabulary with its r². Natural text sits near slope −1;
# machine-generated or template-heavy corpora flatten or kink, making
# this the one-row vocabulary-health probe a curation pipeline logs per
# snapshot. One token count (map-side combined, vocabulary-sized), one
# rank window over the O(vocab) table, one OLS aggregation.
# ---------------------------------------------------------------------------


def q_t_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    toks = d.select(
        F.explode(F.split(text.normalized(F.col("text")), " ")).alias("__w")
    ).filter(F.col("__w") != "")
    vocab = toks.groupBy("__w").agg(F.count(F.lit(1)).alias("__n"))
    # Vocabulary grows with the corpus (hundreds of millions of types at web
    # scale), so the rank must NOT be a single-partition row_number window —
    # use the two-pass distributed rank (range exchange + per-partition
    # offsets) shared with histogram_equidepth.
    ranked = quality.global_rank(vocab, [("__n", False), ("__w", True)], "__rank")
    ranked = ranked.select(
        F.log(F.col("__rank").cast("double")).alias("__lr"),
        F.log(F.col("__n").cast("double")).alias("__lf"),
    )
    return ranked.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.round(
            F.covar_samp("__lr", "__lf") / F.var_samp("__lr") + F.lit(1e-9), 6
        ).alias("zipf_slope"),
        F.round(F.pow(F.corr("__lr", "__lf"), 2) + F.lit(1e-9), 6).alias("r2"),
    )


SQL_T_ZIPF_FIT = f"""
WITH n AS (SELECT {_NORM_SQL} AS nt FROM documents),
tok AS (SELECT unnest(string_split(nt, ' ')) AS w FROM n),
v AS (SELECT w, count(*) AS c FROM tok WHERE w <> '' GROUP BY w),
r AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS lr,
         ln(CAST(c AS DOUBLE)) AS lf
  FROM v
)
SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       round(covar_samp(lr, lf) / var_samp(lr) + 1e-9, 6) AS zipf_slope,
       round(pow(corr(lr, lf), 2) + 1e-9, 6) AS r2
FROM r
"""


_REGISTRY.update({"inv_t_zipf_fit": (q_t_zipf_fit, SQL_T_ZIPF_FIT)})


# ---------------------------------------------------------------------------
# Round 5: distributed logistic-regression quality classifier
# (features.train_logistic) — full-batch quantized gradient descent over
# the heuristic text features, predicting English-ness from
# stopword/punctuation/length ratios (the fastText/CCNet "train a cheap
# linear filter ON the corpus" step). One map-side-combined aggregate
# pass per iteration, coefficients quantized to 10dp per step, so the
# chained-CTE DuckDB unrolling below matches every iterate exactly.
# ---------------------------------------------------------------------------


def q_x_quality_logreg(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import features

    d = _docs(spark, sf)
    q = text.add_quality_score(d)
    feats = q.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        "stopword_ratio",
        "punct_ratio",
        F.round(F.col("len_score") + F.lit(1e-9), 6).alias("len_score6"),
    )
    return features.train_logistic(
        feats,
        "y",
        ["stopword_ratio", "punct_ratio", "len_score6"],
        iterations=5,
        lr=2.0,
    )


def _logreg_chain_sql(iterations: int = 5, lr: float = 2.0) -> str:
    """The shared WITH body (feature build + MATERIALIZED GD chain through
    c{iterations}) — composed by both the trainer oracle and the
    calibration oracle so the replayed model can never drift between
    them."""
    return _logreg_oracle_sql(iterations, lr, chain_only=True)


def _logreg_oracle_sql(
    iterations: int = 5, lr: float = 2.0, chain_only: bool = False
) -> str:
    zero = ["0.0"] * 4
    ctes = []
    prev = None
    for k in range(1, iterations + 1):
        if prev is None:
            b = zero
        else:
            b = [f"(SELECT b{j} FROM {prev})" for j in range(4)]
        z = f"({b[0]} + {b[1]} * x0 + {b[2]} * x1 + {b[3]} * x2)"
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
        # reference, and each c_k is referenced ~9× by iteration k+1 —
        # un-materialized, the chain re-evaluates 9^iterations times
        # (measured 277 s at sf0.01; materialized: 0.1 s)
        ctes.append(
            f"""i{k} AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(p - y) AS g0, sum((p - y) * x0) AS g1,
         sum((p - y) * x1) AS g2, sum((p - y) * x2) AS g3,
         sum(-(y * ln(greatest(least(p, 1.0 - 1e-15), 1e-15))
               + (1.0 - y) * ln(1.0 - greatest(least(p, 1.0 - 1e-15), 1e-15)))) AS ll
  FROM (SELECT y, x0, x1, x2, 1.0 / (1.0 + exp(-{z})) AS p FROM f) t
),
c{k} AS MATERIALIZED (
  SELECT {', '.join(f'round({b[j]} - {lr} * g{j} / n + 1e-9, 10) AS b{j}' for j in range(4))},
         round(ll / n + 1e-9, 6) AS logloss
  FROM i{k}
)"""
        )
        prev = f"c{k}"
    selects = " UNION ALL ".join(
        f"SELECT {k} AS step, b0, b1, b2, b3, logloss FROM c{k}"
        for k in range(1, iterations + 1)
    )
    chain = f"""
WITH n0 AS (SELECT doc_id, lang, {_NORM_SQL} AS nt FROM documents),
s AS MATERIALIZED (
  SELECT doc_id, lang, nt,
    length(regexp_replace(nt, '[^.,;:!?]', '', 'g')) AS punct,
    len(string_split(nt, ' ')) AS n_tok,
    {_stop_hits_sql()} AS stop_hits
  FROM n0
),
f AS MATERIALIZED (
  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
    round(stop_hits / CAST(greatest(n_tok, 1) AS DOUBLE), 6) AS x0,
    round(punct / CAST(greatest(length(nt), 1) AS DOUBLE), 6) AS x1,
    round(least(length(nt) / 500.0, 1.0) + 1e-9, 6) AS x2
  FROM s
),
{', '.join(ctes)}"""
    if chain_only:
        return chain
    return f"""{chain}
SELECT CAST(step AS INT) AS step, b0, b1, b2, b3, logloss FROM ({selects}) ORDER BY step
"""


_REGISTRY.update(
    {"inv_x_quality_logreg": (q_x_quality_logreg, _logreg_oracle_sql())}
)


def q_x_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier calibration (features.calibration_report): reliability
    bins + ECE for the trained quality logreg — per confidence decile the
    mean predicted probability vs the observed positive rate. Scores are
    6 dp-quantized before bucketing; the oracle replays the identical
    MATERIALIZED GD chain, then the identical scoring and binning."""
    from market_data_pipeline_spark.operators import features

    d = _docs(spark, sf)
    q = text.add_quality_score(d)
    feats = q.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        "stopword_ratio",
        "punct_ratio",
        F.round(F.col("len_score") + F.lit(1e-9), 6).alias("len_score6"),
    )
    return features.calibration_report(
        feats,
        "y",
        ["stopword_ratio", "punct_ratio", "len_score6"],
        bins=10,
        iterations=5,
        lr=2.0,
    )


def _calibration_oracle_sql(iterations: int = 5, lr: float = 2.0) -> str:
    last = f"c{iterations}"
    b = [f"(SELECT b{j} FROM {last})" for j in range(4)]
    z = f"({b[0]} + {b[1]} * x0 + {b[2]} * x1 + {b[3]} * x2)"
    return f"""{_logreg_chain_sql(iterations, lr)},
scored AS (
  SELECT y, round(1.0 / (1.0 + exp(-{z})) + 1e-9, 6) AS p
  FROM f
),
bybin AS (
  SELECT least(9, CAST(floor(p * 10) AS INT)) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         round(avg(p) + 1e-9, 6) AS confidence,
         round(avg(y) + 1e-9, 6) AS accuracy
  FROM scored GROUP BY 1
),
g AS (
  SELECT *, round(abs(accuracy - confidence) + 1e-9, 6) AS gap FROM bybin
),
e AS (SELECT round(sum(n * gap) / sum(n) + 1e-9, 6) AS ece FROM g)
SELECT CAST(bin AS INT) AS bin, n, confidence, accuracy, gap, e.ece
FROM g CROSS JOIN e
"""


_REGISTRY.update({"inv_x_calibration": (q_x_calibration, _calibration_oracle_sql())})


def q_x_ols_regression(spark: SparkSession, sf: str) -> DataFrame:
    """Closed-form OLS (features.ols_closed_form): extended price (cents)
    regressed on quantity and discount in ONE aggregate pass — normal
    equations from ten decimal-exact sufficient statistics, Cramer-solved
    in a fixed IEEE expression tree the oracle replays bit-for-bit. The
    iterative complement to inv_x_quality_logreg: no loop, no driver math."""
    from market_data_pipeline_spark.operators import features

    li = load_table(spark, sf, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
    )
    return features.ols_closed_form(li, "price_c", "qty", "disc_pct")


SQL_X_OLS = """
WITH q AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_raw, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1 * x1) AS DOUBLE) AS s11,
         CAST(sum(x2 * x2) AS DOUBLE) AS s22,
         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
         CAST(sum(x1 * y) AS DOUBLE) AS s1y,
         CAST(sum(x2 * y) AS DOUBLE) AS s2y,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM q
),
d AS (
  SELECT *,
    ((n * ((s11 * s22) - (s12 * s12))) - (s1 * ((s1 * s22) - (s12 * s2)))) + (s2 * ((s1 * s12) - (s11 * s2))) AS det,
    ((sy * ((s11 * s22) - (s12 * s12))) - (s1 * ((s1y * s22) - (s12 * s2y)))) + (s2 * ((s1y * s12) - (s11 * s2y))) AS det0,
    ((n * ((s1y * s22) - (s12 * s2y))) - (sy * ((s1 * s22) - (s12 * s2)))) + (s2 * ((s1 * s2y) - (s1y * s2))) AS det1,
    ((n * ((s11 * s2y) - (s1y * s12))) - (s1 * ((s1 * s2y) - (s1y * s2)))) + (sy * ((s1 * s12) - (s11 * s2))) AS det2
  FROM s
),
e AS (SELECT *, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2 FROM d)
SELECT n_raw AS n,
       round(b0 + 1e-9, 6) AS beta0,
       round(b1 + 1e-9, 6) AS beta1,
       round(b2 + 1e-9, 6) AS beta2,
       round((CAST(1 AS DOUBLE) - ((((syy - (b0 * sy)) - (b1 * s1y)) - (b2 * s2y))
                                   / (syy - ((sy * sy) / n)))) + 1e-9, 6) AS r2
FROM e
"""


_REGISTRY.update({"inv_x_ols_regression": (q_x_ols_regression, SQL_X_OLS)})


def q_x_neyman_alloc(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman-optimal sampling allocation (features.neyman_allocation):
    split a 10k-row sampling budget across order priorities ∝ N_h·σ_h of
    the order value, largest-remainder rounded to sum exactly to budget —
    the survey-statistics answer to per-stratum sample sizes, built on the
    decimal-exact power-sum discipline."""
    from market_data_pipeline_spark.operators import features

    o = load_table(spark, sf, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    return features.neyman_allocation(o, "o_orderpriority", "price_c", budget=10000)


SQL_X_NEYMAN = """
WITH q AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
),
s AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS s1, CAST(sum(x * x) AS DOUBLE) AS s2
  FROM q GROUP BY 1
),
w AS (
  SELECT g, n_rows,
         sqrt((s2 / n) - ((s1 / n) * (s1 / n))) AS sig,
         n * sqrt((s2 / n) - ((s1 / n) * (s1 / n))) AS wt
  FROM s
),
t AS (SELECT sum(wt) AS tw FROM w),
a AS (
  SELECT g, n_rows, sig,
         CAST(10000 AS DOUBLE) * wt / t.tw AS raw
  FROM w CROSS JOIN t
),
b AS (
  SELECT g, n_rows, sig, raw,
         CAST(floor(raw) AS BIGINT) AS base, raw - floor(raw) AS frac
  FROM a
),
sh AS (SELECT 10000 - sum(base) AS short FROM b),
r AS (SELECT *, row_number() OVER (ORDER BY frac DESC, g) AS rnk FROM b)
SELECT g AS o_orderpriority, n_rows,
       round(sig + 1e-9, 6) AS sigma,
       round(raw + 1e-9, 6) AS alloc_raw,
       CAST(base + CASE WHEN rnk <= (SELECT short FROM sh) THEN 1 ELSE 0 END
            AS BIGINT) AS n_alloc
FROM r
"""


_REGISTRY.update({"inv_x_neyman_alloc": (q_x_neyman_alloc, SQL_X_NEYMAN)})


def q_q_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini concentration (quality.gini_concentration): per order
    priority, how concentrated order value is across orders — the
    inequality profile behind 'is this source dominated by a few
    records'. Rank-weighted sums decimal-exact; ties need no tiebreak
    (Σ i·x is invariant under permuting equal values)."""
    o = load_table(spark, sf, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    return quality.gini_concentration(o, "o_orderpriority", "price_c")


SQL_Q_GINI = """
WITH q AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
),
r AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS i FROM q),
s AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_raw, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS s, CAST(sum(i * x) AS DOUBLE) AS s1
  FROM r GROUP BY 1
)
SELECT g AS o_orderpriority, n_raw AS n,
       round(((2.0 * s1) / (n * s)) - ((n + 1.0) / n) + 1e-9, 6) AS gini
FROM s
"""


_REGISTRY.update({"inv_q_gini": (q_q_gini, SQL_Q_GINI)})


# ---------------------------------------------------------------------------
# Round 5 (continued): broadcast-Bloom decontamination audit — the 100 TB
# decontamination plan (eval shingles → bloom_filter_agg → broadcast →
# map-side might_contain over the training scan; the corpus never
# shuffles) run side-by-side with the exact semi-join truth. The oracle
# pins the exact counts and expects both contract flags TRUE: Bloom has
# no false negatives (superset_ok is correctness, not luck), and false
# positives stay within a generous multiple of the design FPP.
# ---------------------------------------------------------------------------


def q_d_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.decontaminate_bloom_audit(
        _docs(spark, sf), eval_mod=20, shingle_n=3, expected_items=500_000
    )


SQL_D_DECONTAM_BLOOM = f"""
WITH {_SHINGLE_SQL},
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0),
flagged AS (
  SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON tr.shingle = ev.shingle
)
SELECT
  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents WHERE doc_id % 20 <> 0)
    AS n_train_docs,
  (SELECT CAST(count(*) AS BIGINT) FROM flagged) AS n_exact_flagged,
  TRUE AS bloom_superset_ok,
  TRUE AS bloom_fp_ok
"""


_REGISTRY.update(
    {"inv_d_decontaminate_bloom": (q_d_decontaminate_bloom, SQL_D_DECONTAM_BLOOM)}
)


# ---------------------------------------------------------------------------
# Round 5 (continued): liquidity microstructure — Amihud (2002)
# illiquidity and Kyle (1985) lambda per symbol, one window pass + one
# map-side-combinable keyed aggregate (indicators.liquidity_metrics).
# ---------------------------------------------------------------------------


def q_w_liquidity(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf)
    return indicators.liquidity_metrics(b)


SQL_W_LIQUIDITY = f"""
WITH {BARS_SQL},
x AS (
  SELECT symbol, d, close, volume,
         close / lag(close) OVER (PARTITION BY symbol ORDER BY d) - 1 AS ret
  FROM bars
),
y AS (
  SELECT symbol, ret, close * volume AS dv, sign(ret) * volume AS sv
  FROM x WHERE ret IS NOT NULL AND close * volume > 0
),
a AS (
  SELECT symbol,
         CAST(count(*) AS BIGINT) AS n_days,
         round(avg(abs(ret) / dv * 1e6) + 1e-9, 6) AS amihud_illiq,
         covar_samp(ret, sv) / nullif(var_samp(sv), 0) AS lam
  FROM y GROUP BY symbol
)
SELECT symbol, n_days, amihud_illiq,
       CASE WHEN n_days >= 3 AND lam IS NOT NULL
            THEN round(lam * 1e9 + 1e-9, 2) END AS kyle_lambda
FROM a
"""


_REGISTRY.update({"inv_w_liquidity": (q_w_liquidity, SQL_W_LIQUIDITY)})


def q_w_holt_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Holt double exponential smoothing (indicators.holt_forecast):
    per-symbol level/trend state after the full bar series plus a 5-step
    linear forecast — the EMA recursion's forecasting twin, run entirely
    as a codegen'd F.aggregate fold with in-fold 10 dp quantization so
    the recursive-CTE oracle replays it bit-for-bit."""
    b = _bars(spark, sf).select("symbol", "d", "close")
    return indicators.holt_forecast(b, alpha=0.2, beta=0.1, horizon=5)


def _holt_sql(alpha: float = 0.2, beta: float = 0.1, horizon: int = 5) -> str:
    a, b_ = float(alpha), float(beta)
    one_a, one_b = 1.0 - a, 1.0 - b_
    # every literal is repr() of the exact Python double the Spark fold
    # uses, so both engines parse the same IEEE values
    new_l = f"round({a!r}*s.close + {one_a!r}*(r.l + r.b) + 1e-13, 10)"
    return f"""
WITH RECURSIVE {BARS_SQL},
numbered AS (
  SELECT symbol, close, row_number() OVER (PARTITION BY symbol ORDER BY d) AS rn
  FROM bars
),
nmax AS (SELECT symbol, max(rn) AS n FROM numbered GROUP BY symbol),
rec AS (
  SELECT a.symbol, 1 AS t,
         round(a.close + 1e-13, 10) AS l,
         round((b.close - a.close) + 1e-13, 10) AS b
  FROM numbered a JOIN numbered b ON a.symbol = b.symbol AND a.rn = 1 AND b.rn = 2
  UNION ALL
  SELECT r.symbol, r.t + 1,
         {new_l},
         round({b_!r}*({new_l} - r.l) + {one_b!r}*r.b + 1e-13, 10)
  FROM rec r JOIN numbered s ON s.symbol = r.symbol AND s.rn = r.t + 1
)
SELECT r.symbol, CAST(m.n AS BIGINT) AS n_obs, r.l AS level, r.b AS trend,
       round(r.l + {float(horizon)!r}*r.b + 1e-9, 6) AS forecast
FROM rec r JOIN nmax m ON r.symbol = m.symbol AND r.t = m.n
"""


_REGISTRY.update({"inv_w_holt_forecast": (q_w_holt_forecast, _holt_sql())})


def q_w_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sided CUSUM drift alarms (indicators.cusum_alarms): per-symbol
    alarm counts on standardized bar closes — the sequential detector for
    accumulated small shifts that pointwise z-scores miss. Codegen'd
    F.aggregate fold with quantized state; recursive-CTE oracle."""
    b = _bars(spark, sf).select("symbol", "d", "close")
    return indicators.cusum_alarms(b, k=0.5, h=4.0)


def _cusum_sql(k: float = 0.5, h: float = 4.0) -> str:
    z = "((s.close - m.mean) / m.std)"
    zsp = f"round(greatest(CAST(0 AS DOUBLE), (r.sp + {z}) - {k!r}) + 1e-13, 10)"
    zsn = f"round(greatest(CAST(0 AS DOUBLE), (r.sn - {z}) - {k!r}) + 1e-13, 10)"
    return f"""
WITH RECURSIVE {BARS_SQL},
m AS (
  SELECT symbol, round(avg(close) + 1e-9, 6) AS mean,
         round(stddev_samp(close) + 1e-9, 6) AS std,
         count(*) AS n
  FROM bars GROUP BY symbol
  HAVING round(stddev_samp(close) + 1e-9, 6) > 0
),
numbered AS (
  SELECT symbol, close, row_number() OVER (PARTITION BY symbol ORDER BY d) AS rn
  FROM bars
),
rec AS (
  SELECT symbol, 0 AS t, CAST(0 AS DOUBLE) AS sp, CAST(0 AS DOUBLE) AS sn,
         0 AS up, 0 AS dn
  FROM m
  UNION ALL
  SELECT r.symbol, r.t + 1,
         CASE WHEN {zsp} > {h!r} THEN CAST(0 AS DOUBLE) ELSE {zsp} END,
         CASE WHEN {zsn} > {h!r} THEN CAST(0 AS DOUBLE) ELSE {zsn} END,
         r.up + CASE WHEN {zsp} > {h!r} THEN 1 ELSE 0 END,
         r.dn + CASE WHEN {zsn} > {h!r} THEN 1 ELSE 0 END
  FROM rec r
  JOIN numbered s ON s.symbol = r.symbol AND s.rn = r.t + 1
  JOIN m ON m.symbol = r.symbol
)
SELECT r.symbol, CAST(m.n AS BIGINT) AS n_obs, m.mean, m.std,
       CAST(r.up AS BIGINT) AS alarms_up, CAST(r.dn AS BIGINT) AS alarms_down
FROM rec r JOIN m ON r.symbol = m.symbol AND r.t = m.n
"""


_REGISTRY.update({"inv_w_cusum": (q_w_cusum, _cusum_sql())})


def q_w_kalman(spark: SparkSession, sf: str) -> DataFrame:
    """1-D local-level Kalman filter (indicators.kalman_level): per-symbol
    final filtered level, converged gain, and innovation RMSE — the
    adaptive-gain smoother the fixed-weight EMA family approximates.
    Codegen'd F.aggregate fold with quantized 4-component state;
    recursive-CTE oracle."""
    b = _bars(spark, sf).select("symbol", "d", "close")
    return indicators.kalman_level(b, q=0.0625, r=1.0)


def _kalman_sql(q: float = 0.0625, r: float = 1.0) -> str:
    pp = f"round(r.p + {q!r} + 1e-13, 10)"
    k = f"round({pp} / ({pp} + {r!r}) + 1e-13, 10)"
    return f"""
WITH RECURSIVE {BARS_SQL},
numbered AS (
  SELECT symbol, close,
         row_number() OVER (PARTITION BY symbol ORDER BY d) AS rn
  FROM bars
),
cnt AS (
  SELECT symbol, count(*) AS n FROM numbered GROUP BY symbol
  HAVING count(*) >= 2
),
rec AS (
  SELECT b.symbol, 1 AS t,
         round(b.close + 1e-13, 10) AS x,
         round({r!r} + 1e-13, 10) AS p,
         CAST(0 AS DOUBLE) AS k,
         CAST(0 AS DOUBLE) AS si
  FROM numbered b JOIN cnt ON cnt.symbol = b.symbol
  WHERE b.rn = 1
  UNION ALL
  SELECT r.symbol, r.t + 1,
         round(r.x + {k} * (s.close - r.x) + 1e-13, 10),
         round((1.0 - {k}) * {pp} + 1e-13, 10),
         {k},
         round(r.si + (s.close - r.x) * (s.close - r.x) + 1e-13, 10)
  FROM rec r JOIN numbered s ON s.symbol = r.symbol AND s.rn = r.t + 1
)
SELECT r.symbol, CAST(c.n AS BIGINT) AS n_obs,
       r.x AS kf_level, r.k AS kf_gain,
       round(sqrt(r.si / (c.n - 1)) + 1e-9, 6) AS innov_rmse
FROM rec r JOIN cnt c ON r.symbol = c.symbol AND r.t = c.n
"""


_REGISTRY.update({"inv_w_kalman": (q_w_kalman, _kalman_sql())})


def q_w_seasonal_decomp(spark: SparkSession, sf: str) -> DataFrame:
    """Additive seasonal decomposition (indicators.seasonal_decompose):
    per-symbol centered 7-row trend, weekly-phase seasonal effect
    (equal-weighted, re-centered to mean 0), and residual — the classical
    moving-average STL-lite. Phase is days-since-epoch mod 7 (integer-
    exact on both engines)."""
    b = _bars(spark, sf).select("symbol", "d", "close")
    return indicators.seasonal_decompose(b, period=7)


SQL_W_SEASONAL = f"""
WITH {BARS_SQL},
b AS (
  SELECT symbol, d, close,
         date_diff('day', DATE '1970-01-01', d) % 7 AS phase,
         CASE WHEN count(close) OVER w = 7
              THEN round(avg(close) OVER w + 1e-9, 6) END AS trend
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
d2 AS (SELECT *, close - trend AS detr FROM b),
seff AS (
  SELECT symbol, phase, round(avg(detr) + 1e-9, 6) AS sraw
  FROM d2 GROUP BY 1, 2
),
cent AS (SELECT symbol, round(avg(sraw) + 1e-9, 6) AS c FROM seff GROUP BY 1),
seas AS (
  SELECT s.symbol, s.phase, round(s.sraw - c.c + 1e-9, 6) AS seasonal
  FROM seff s JOIN cent c USING (symbol)
)
SELECT d2.symbol, d2.d, d2.close, d2.trend, seas.seasonal,
       round(d2.close - d2.trend - seas.seasonal + 1e-9, 6) AS residual
FROM d2 JOIN seas ON d2.symbol = seas.symbol AND d2.phase = seas.phase
WHERE d2.trend IS NOT NULL
"""


_REGISTRY.update({"inv_w_seasonal_decomp": (q_w_seasonal_decomp, SQL_W_SEASONAL)})


def q_w_theil_sen(spark: SparkSession, sf: str) -> DataFrame:
    """Theil–Sen robust trend (indicators.theil_sen_trend): per-symbol
    median-of-pairwise-slopes regression with the median intercept —
    29%-breakdown trend estimation one bad bar can't bend. Per-key
    calendar-bounded pair fan-out, exact interpolated medians on both
    engines."""
    b = _bars(spark, sf).select("symbol", "d", "close")
    return indicators.theil_sen_trend(b)


SQL_W_THEIL_SEN = f"""
WITH {BARS_SQL},
numbered AS (
  SELECT symbol, date_diff('day', DATE '1970-01-01', d) AS t, close AS y,
         row_number() OVER (PARTITION BY symbol ORDER BY d) AS rn
  FROM bars
),
cnt AS (SELECT symbol, count(*) AS n FROM numbered GROUP BY 1 HAVING count(*) >= 2),
sl AS (
  SELECT a.symbol, (b.y - a.y) / CAST(b.t - a.t AS DOUBLE) AS m
  FROM numbered a JOIN numbered b ON a.symbol = b.symbol AND a.rn < b.rn
),
ms AS (
  SELECT symbol, quantile_cont(m, 0.5) AS slope, count(*) AS n_pairs
  FROM sl GROUP BY 1
),
ic AS (
  SELECT n.symbol, ms.slope, ms.n_pairs,
         quantile_cont(n.y - ms.slope * CAST(n.t AS DOUBLE), 0.5) AS icpt
  FROM numbered n JOIN ms ON n.symbol = ms.symbol
  GROUP BY n.symbol, ms.slope, ms.n_pairs
)
SELECT ic.symbol, CAST(cnt.n AS BIGINT) AS n_obs,
       CAST(ic.n_pairs AS BIGINT) AS n_pairs,
       round(ic.slope + 1e-9, 6) AS slope,
       round(ic.icpt + 1e-9, 6) AS intercept
FROM ic JOIN cnt ON ic.symbol = cnt.symbol
"""


def q_q_ref_integrity(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit (quality.referential_integrity): orphan
    and NULL-key counts for all seven TPC-H foreign-key edges in one
    union of anti-join scans — the post-load warehouse sanity check."""
    t = {n: load_table(spark, sf, n) for n in
         ("lineitem", "orders", "part", "supplier", "customer", "nation", "region")}
    return quality.referential_integrity(
        [
            (t["lineitem"], "lineitem", "l_orderkey", t["orders"], "orders", "o_orderkey"),
            (t["lineitem"], "lineitem", "l_partkey", t["part"], "part", "p_partkey"),
            (t["lineitem"], "lineitem", "l_suppkey", t["supplier"], "supplier", "s_suppkey"),
            (t["orders"], "orders", "o_custkey", t["customer"], "customer", "c_custkey"),
            (t["customer"], "customer", "c_nationkey", t["nation"], "nation", "n_nationkey"),
            (t["supplier"], "supplier", "s_nationkey", t["nation"], "nation", "n_nationkey"),
            (t["nation"], "nation", "n_regionkey", t["region"], "region", "r_regionkey"),
        ]
    )


def _ref_integrity_sql() -> str:
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for child, fk, parent, pk in edges:
        parts.append(f"""SELECT '{child}.{fk}' AS child_key, '{parent}.{pk}' AS parent_key,
  (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_rows,
  (SELECT CAST(count(*) AS BIGINT) FROM {child} WHERE {fk} IS NULL) AS n_null_keys,
  (SELECT CAST(count(*) AS BIGINT) FROM {child} c
    WHERE c.{fk} IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})) AS n_orphans,
  (SELECT count(*) FROM {child} c
    WHERE c.{fk} IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})) = 0 AS ok""")
    return "\nUNION ALL\n".join(parts)


_REGISTRY.update(
    {
        "inv_w_theil_sen": (q_w_theil_sen, SQL_W_THEIL_SEN),
        "inv_q_ref_integrity": (q_q_ref_integrity, _ref_integrity_sql()),
    }
)


# ---------------------------------------------------------------------------
# Round 5 (continued): IMA ADPCM round trip — the compressed-audio twin
# of inv_m_audio_stats. The oracle pins the padded block sample count in
# closed form (blocks of 505 = 1 + 8·63 samples) and expects the
# encoder/decoder state-agreement flag TRUE (sketch_accuracy contract —
# a stateful 4-bit decode is not SQL-expressible, the invariant is).
# ---------------------------------------------------------------------------


def q_m_adpcm_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import multimodal

    return multimodal.audio_adpcm_roundtrip(_docs(spark, sf))


SQL_M_ADPCM = """
WITH m AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) + (octet_length(encode(text)) % 2) AS rb
  FROM documents
)
SELECT media_id,
       CAST(CASE WHEN rb = 0 THEN 0
                 ELSE CAST(ceil((rb / 2) / 505.0) AS BIGINT) * 505 END AS BIGINT)
         AS n_samples,
       TRUE AS state_ok
FROM m
"""


_REGISTRY.update({"inv_m_adpcm_roundtrip": (q_m_adpcm_roundtrip, SQL_M_ADPCM)})


# ---------------------------------------------------------------------------
# Round 5 (continued): incremental change consumption from the versioned
# store — read_changes plans ONLY the files added after the consumer's
# last version (no row-set diff, no full-table read): the "process what
# landed since my last run" primitive. Deterministic three-append build;
# the oracle recomputes the added slices straight from documents.
# ---------------------------------------------------------------------------


def q_s_versioned_changes(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from market_data_pipeline_spark.sources import tablefmt as tf

    d = _docs(spark, sf).select("doc_id", "lang", "n_chars")
    tag = os.path.basename(os.path.normpath(sf)) or "sf"
    base = os.path.join(
        tempfile.gettempdir(), f"mdp_vchanges_{tag}"
    )
    shutil.rmtree(base, ignore_errors=True)  # deterministic rebuild per run
    path = f"{base}/t"
    tf.append(spark, path, d.filter(F.col("doc_id") % 3 == 0))  # v0: baseline
    tf.append(spark, path, d.filter(F.col("doc_id") % 3 == 1))  # v1: delta 1
    tf.append(spark, path, d.filter(F.col("doc_id") % 3 == 2))  # v2: delta 2
    return tf.read_changes(spark, path, from_version=0).select(
        "doc_id", "lang", "n_chars"
    )


SQL_S_VERSIONED_CHANGES = """
SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 <> 0
"""


_REGISTRY.update(
    {"inv_s_versioned_changes": (q_s_versioned_changes, SQL_S_VERSIONED_CHANGES)}
)


# ---------------------------------------------------------------------------
# Round 5 (final): GIF/LZW round trip — the animation twin of the ADPCM
# query: document bytes → palette-index frames → real GIF89a encode →
# decode, asserting lossless LZW equality per frame; the oracle pins the
# closed-form frame/pixel counts and expects the flag TRUE.
# ---------------------------------------------------------------------------


def q_m_gif_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import multimodal

    return multimodal.gif_animation_roundtrip(_docs(spark, sf))


SQL_M_GIF = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS rb FROM documents
)
SELECT media_id,
       CAST(greatest(1, CAST(ceil(rb / 192.0) AS BIGINT)) AS BIGINT) AS n_frames,
       CAST(greatest(1, CAST(ceil(rb / 192.0) AS BIGINT)) * 192 AS BIGINT) AS n_pixels,
       TRUE AS lzw_ok
FROM m
"""


_REGISTRY.update({"inv_m_gif_roundtrip": (q_m_gif_roundtrip, SQL_M_GIF)})


# ---------------------------------------------------------------------------
# Round 6: unigram-LM (SentencePiece-style) tokenizer — the BPE twin
# (Kudo 2018, public). Viterbi-EM over the top-300 word-count table:
# seed probabilities from substring counts, then hard-EM rounds whose
# E-step counts pieces along each word's best segmentation. The engine
# runs the DP as F.aggregate folds (O(1) expression size); the oracle
# replays the identical quantized recurrence as recursive CTEs (the
# FFD-packing precedent). Reference has no tokenizer — north-star op.
# ---------------------------------------------------------------------------

_UNI_TOP_WORDS = 300
_UNI_EM_ITERS = 2
_UNI_TOP_PIECES = 50


def _uni_words(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return (
        text.word_counts(d)
        .filter(F.length("word") <= 12)
        .orderBy(F.desc("cnt"), "word")
        .limit(_UNI_TOP_WORDS)
    )


def q_t_unigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    p = text.unigram_train(_uni_words(spark, sf), em_iters=_UNI_EM_ITERS)
    return (
        p.orderBy(F.desc("prob"), "piece")
        .limit(_UNI_TOP_PIECES)
        .select("piece", "prob")
    )


def q_t_unigram_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Round trip: train the piece table, then count per-doc unigram-LM
    tokens. n_words counts only MODEL-ADMITTED words (pattern + length
    cap + in the top-300 training vocab) — the self-consistent contract:
    the encode joins the O(vocab) word→ntok artifact, the corpus never
    runs the DP."""
    wc = _uni_words(spark, sf).localCheckpoint(eager=True)
    # wc is already an eager checkpoint shared with the encode side, so
    # the trainer skips its own input materialization (one less eager job)
    p = text.unigram_train(wc, em_iters=_UNI_EM_ITERS, materialize_input=False)
    return text.unigram_apply(_docs(spark, sf), wc, p)


def _unigram_sql_chain(em_rounds: int, top_words: int = _UNI_TOP_WORDS) -> str:
    """CTE chain (needs a WITH RECURSIVE prefix) defining up0..up{R} and
    per-round ugrid/ufwd/ubt — the exact quantized Viterbi-EM replay.
    ``em_rounds`` rounds are generated; round R's ubt{R} is also the
    encode-time segmentation when called with em_rounds = em_iters + 1
    (the last round's E-step output is simply unused)."""
    N, P = 12, 3
    NEG = "-1000000000.0"
    parts = [
        f"""toksu AS (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS word FROM documents
),
wu AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toksu
  WHERE regexp_matches(word, '^[a-z]+$') AND length(word) <= {N}
  GROUP BY word ORDER BY cnt DESC, word LIMIT {top_words}
),
candu AS MATERIALIZED (
  SELECT w.word, w.cnt, CAST(s.range AS INT) AS s, CAST(j.range AS INT) AS j,
         substr(w.word, CAST(s.range AS INT), CAST(j.range AS INT)) AS pc
  FROM wu w, range(1, {N + 1}) s, range(1, {P + 1}) j
  WHERE s.range + j.range - 1 <= length(w.word)
),
seedsu AS MATERIALIZED (
  SELECT pc AS piece, CAST(sum(cnt) AS BIGINT) AS c FROM candu GROUP BY pc
),
up0 AS MATERIALIZED (
  SELECT piece, prob, round(ln(prob) + 1e-13, 10) AS lp FROM (
    SELECT piece,
           round(c / CAST((SELECT sum(c) FROM seedsu) AS DOUBLE) + 1e-13, 10) AS prob
    FROM seedsu)
)"""
    ]
    for r in range(1, em_rounds + 1):
        p = r - 1
        # LIST-FREE grid, keyed by the piece's END position e = s + j - 1:
        # el{j} = lp of the length-j piece ending at e (one candidate per
        # (word, e, j), so max() just selects it). DuckDB 1.x crashes
        # intermittently (std::bad_array_new_length) on list(ORDER BY)
        # FILTER + list_resize aggregates inside WITH RECURSIVE under a
        # long-lived connection; scalar aggregates + one join per
        # recursion step compute the identical quantized arithmetic.
        parts.append(
            f"""ugrid{r} AS MATERIALIZED (
  SELECT c.word, c.s + c.j - 1 AS e,
    max(CASE WHEN c.j = 1 THEN coalesce(p.lp, {NEG}) END) AS el1,
    max(CASE WHEN c.j = 2 THEN coalesce(p.lp, {NEG}) END) AS el2,
    max(CASE WHEN c.j = 3 THEN coalesce(p.lp, {NEG}) END) AS el3
  FROM candu c LEFT JOIN up{p} p ON p.piece = c.pc
  GROUP BY c.word, c.s + c.j - 1
),
ufwd{r} AS (
  SELECT word, cnt, 1 AS i,
         [0.0]::DOUBLE[] AS barr, []::INT[] AS bparr
  FROM wu
  UNION ALL
  SELECT word, cnt, i + 1,
         list_append(barr, greatest(t1, t2, t3)),
         list_append(bparr, CASE WHEN greatest(t1, t2, t3) = t3 THEN 3
                                 WHEN greatest(t1, t2, t3) = t2 THEN 2
                                 ELSE 1 END)
  FROM (
    SELECT f.word, f.cnt, f.i, f.barr, f.bparr,
           f.barr[f.i] + coalesce(g.el1, {NEG}) AS t1,
           CASE WHEN f.i >= 2 THEN f.barr[f.i - 1] + coalesce(g.el2, {NEG})
                ELSE -1e18 END AS t2,
           CASE WHEN f.i >= 3 THEN f.barr[f.i - 2] + coalesce(g.el3, {NEG})
                ELSE -1e18 END AS t3
    FROM ufwd{r} f LEFT JOIN ugrid{r} g ON g.word = f.word AND g.e = f.i
    WHERE f.i <= {N}
  )
),
ubt{r} AS (
  SELECT word, cnt, bparr, CAST(length(word) AS INT) AS pos, []::VARCHAR[] AS pcs
  FROM ufwd{r} WHERE i = {N + 1}
  UNION ALL
  SELECT word, cnt, bparr, pos - bparr[pos],
         list_append(pcs, substr(word, pos - bparr[pos] + 1, bparr[pos]))
  FROM ubt{r} WHERE pos > 0
),
uest{r} AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT cnt, unnest(pcs) AS piece FROM ubt{r} WHERE pos = 0)
  GROUP BY piece
),
up{r} AS MATERIALIZED (
  SELECT piece, prob, round(ln(prob) + 1e-13, 10) AS lp FROM (
    SELECT piece,
           round(c / CAST((SELECT sum(c) FROM uest{r}) AS DOUBLE) + 1e-13, 10) AS prob
    FROM uest{r})
)"""
        )
    return ",\n".join(parts)


def _unigram_lm_sql(em: int = _UNI_EM_ITERS) -> str:
    return f"""
WITH RECURSIVE
{_unigram_sql_chain(em)}
SELECT piece, prob FROM up{em}
ORDER BY prob DESC, piece LIMIT {_UNI_TOP_PIECES}
"""


def _unigram_encode_sql(em: int = _UNI_EM_ITERS) -> str:
    # one extra grid/fwd/bt round against the FINAL piece table gives the
    # encode-time segmentation; its E-step CTEs go unused by the SELECT
    final = em + 1
    return f"""
WITH RECURSIVE
{_unigram_sql_chain(final)},
uwt AS MATERIALIZED (
  SELECT word, CAST(len(pcs) AS BIGINT) AS ntok
  FROM ubt{final} WHERE pos = 0
),
uocc AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$') AND length(word) <= 12
),
uagg AS (
  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(w.ntok) AS BIGINT) AS n_unigram_tokens
  FROM uocc o JOIN uwt w USING (word) GROUP BY o.doc_id
)
SELECT d.doc_id,
       coalesce(a.n_words, 0) AS n_words,
       coalesce(a.n_unigram_tokens, 0) AS n_unigram_tokens
FROM documents d LEFT JOIN uagg a USING (doc_id)
"""


_REGISTRY.update(
    {
        "inv_t_unigram_lm": (q_t_unigram_lm, _unigram_lm_sql()),
        "inv_t_unigram_encode": (q_t_unigram_encode, _unigram_encode_sql()),
    }
)


# ---------------------------------------------------------------------------
# Round 6 (continued): per-host curation quota — the Common-Crawl-shaped
# complement to the temperature mix: cap documents per URL host, best
# quality first, so a boilerplate-heavy mega-host can't flood the corpus.
# The rank filter rides WindowGroupLimit (cap pushed below the per-host
# sort — skew-safe, no global window); the URL is synthesized from the
# source column (the testdata has no URL column) and the host extraction
# regexp is the operator's real surface.
# ---------------------------------------------------------------------------


def q_x_host_quota(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import features

    d = _docs(spark, sf)
    q = text.add_quality_score(d).withColumn(
        "url",
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/"), F.col("doc_id")),
    )
    return features.host_quota(q, "url", "quality_score", cap=10).select(
        "doc_id", "host", "quality_score"
    )


SQL_X_HOST_QUOTA = f"""
WITH n AS (SELECT doc_id, source, {_NORM_SQL} AS nt FROM documents),
s AS (
  SELECT doc_id, source, nt,
    len(string_split(nt, ' ')) AS n_tok,
    {_stop_hits_sql()} AS stop_hits
  FROM n
),
q AS (
  SELECT doc_id,
    'https://' || source || '.example.com/' || doc_id AS url,
    round(0.5 * least(length(nt) / 500.0, 1.0)
          + 0.5 * least(round(stop_hits / CAST(greatest(n_tok, 1) AS DOUBLE), 6) * 5.0, 1.0)
          + 1e-9, 6) AS quality_score
  FROM s
),
h AS (
  SELECT doc_id, regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)', 1) AS host,
         quality_score
  FROM q
),
r AS (
  SELECT doc_id, host, quality_score,
         row_number() OVER (PARTITION BY host
                            ORDER BY quality_score DESC, doc_id) AS rn
  FROM h
)
SELECT doc_id, host, quality_score FROM r WHERE rn <= 10
"""


_REGISTRY.update({"inv_x_host_quota": (q_x_host_quota, SQL_X_HOST_QUOTA)})


# ---------------------------------------------------------------------------
# Round 6 (continued): BM25 top-k retrieval — the inverted-index-shaped
# ranking primitive (contamination lookups, retrieval-augmented eval).
# Queries are derived deterministically from the corpus: the first four
# tokens of docs 0-4. Candidate volume = Σ posting-list lengths of the
# query terms (never all-pairs); the per-query top-k rides
# WindowGroupLimit.
# ---------------------------------------------------------------------------


def q_t_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    queries = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(text.tokens(F.col("text")), 1, 4)).alias("qtext"),
    )
    return text.bm25_topk(d, queries, k=10)


_BM25_CHAIN = f"""n AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (
  SELECT doc_id, t.term FROM (
    SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM n
  ) t WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         (SELECT round(avg(dl) + 1e-9, 6) FROM dl) AS avgdl
),
idf AS (
  SELECT f.term,
         round(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)) + 1e-9, 6) AS idf
  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term) f, stats s
),
q AS (
  SELECT doc_id AS query_id,
         array_to_string(list_slice(string_split(nt, ' '), 1, 4), ' ') AS qtext
  FROM n WHERE doc_id < 5
),
qterms AS (
  SELECT DISTINCT query_id, t.term FROM (
    SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM q
  ) t WHERE t.term <> ''
),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
         i.idf * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS c
  FROM qterms qt
  JOIN tf ON tf.term = qt.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN idf i ON i.term = qt.term
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id, round(sum(c) + 1e-9, 6) AS score
  FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rk
  FROM scored
)
"""

SQL_T_BM25 = f"""
WITH {_BM25_CHAIN}
SELECT query_id, doc_id, score, CAST(rk AS INT) AS rk FROM ranked WHERE rk <= 10
"""


_REGISTRY.update({"inv_t_bm25_topk": (q_t_bm25_topk, SQL_T_BM25)})


# ---------------------------------------------------------------------------
# Round 6 (continued): WordPiece-style greedy MaxMatch encode — the third
# tokenizer path (BPE merges, unigram Viterbi, greedy longest-match),
# sharing the unigram-trained piece vocabulary. Encodes EVERY admitted
# corpus word (not just the training top-300), so UNK coverage is a real
# output; the whole path is boolean (no float parity surface at all).
# ---------------------------------------------------------------------------


def q_t_maxmatch_encode(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    # shared word-count pass (r9): same derivation as q_t_unigram_ppl —
    # the trainer's top-k vocabulary is an orderBy+limit over the SAME
    # admitted word-count frame the encode consumes, so one checkpointed
    # frame feeds both and the second corpus tokenize pass disappears.
    wc_all = (
        text.word_counts(d)
        .filter(F.length("word") <= 12)
        .localCheckpoint(eager=True)
    )
    train = wc_all.orderBy(F.desc("cnt"), "word").limit(_UNI_TOP_WORDS)
    p = text.unigram_train(train, em_iters=_UNI_EM_ITERS)
    return text.maxmatch_apply(d, wc_all.select("word"), p)


def _maxmatch_sql(em: int = _UNI_EM_ITERS) -> str:
    return f"""
WITH RECURSIVE
{_unigram_sql_chain(em)},
allw AS MATERIALIZED (
  SELECT DISTINCT word FROM toksu
  WHERE regexp_matches(word, '^[a-z]+$') AND length(word) <= 12
),
mcand AS (
  SELECT w.word, CAST(s.range AS INT) AS s, CAST(j.range AS INT) AS j,
         substr(w.word, CAST(s.range AS INT), CAST(j.range AS INT)) AS pc
  FROM allw w, range(1, 13) s, range(1, 4) j
  WHERE s.range + j.range - 1 <= length(w.word)
),
steps AS MATERIALIZED (
  -- greedy step per (word, position): the LONGEST vocab piece starting
  -- there (0 = no match -> UNK). List-free on purpose: DuckDB 1.x
  -- crashes (std::bad_array_new_length) inlining a list(ORDER BY)
  -- FILTER aggregate CTE into a consumer inside WITH RECURSIVE; a
  -- scalar max() aggregate + a join in the recursive member is the
  -- robust equivalent.
  SELECT c.word, c.s,
         max(CASE WHEN p.piece IS NOT NULL THEN c.j ELSE 0 END) AS step
  FROM mcand c LEFT JOIN up{em} p ON p.piece = c.pc
  GROUP BY c.word, c.s
),
mm AS (
  SELECT word, 1 AS pos, 0 AS ntok, FALSE AS unk FROM allw
  UNION ALL
  SELECT m.word,
         CASE WHEN s.step > 0 THEN m.pos + s.step ELSE m.pos END,
         CASE WHEN s.step > 0 THEN m.ntok + 1 ELSE m.ntok END,
         coalesce(s.step, 0) = 0
  FROM mm m LEFT JOIN steps s ON s.word = m.word AND s.s = m.pos
  WHERE m.pos <= length(m.word) AND NOT m.unk
),
mwt AS MATERIALIZED (
  SELECT word, CAST(ntok AS BIGINT) AS ntok, unk FROM mm
  WHERE unk OR pos > length(word)
),
mocc AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$') AND length(word) <= 12
),
magg AS (
  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(CASE WHEN NOT w.unk THEN w.ntok ELSE 0 END) AS BIGINT) AS n_wp_tokens,
         CAST(sum(CASE WHEN w.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words
  FROM mocc o JOIN mwt w USING (word) GROUP BY o.doc_id
)
SELECT d.doc_id,
       coalesce(a.n_words, 0) AS n_words,
       coalesce(a.n_wp_tokens, 0) AS n_wp_tokens,
       coalesce(a.n_unk_words, 0) AS n_unk_words
FROM documents d LEFT JOIN magg a USING (doc_id)
"""


_REGISTRY.update({"inv_t_maxmatch_encode": (q_t_maxmatch_encode, _maxmatch_sql())})


# ---------------------------------------------------------------------------
# Round 6 (continued): row-level change feed across REWRITES — the keyed
# snapshot diff (tablefmt.snapshot_diff). read_changes covers append-only
# ranges exactly; once a merge/delete rewrites files, the rewrite-safe
# primitive is one full-outer key join of the two snapshots. Lifecycle:
# append a base slice -> merge (updates + inserts) -> delete a band ->
# diff v0 to head; the oracle recomputes the three change classes
# straight from documents.
# ---------------------------------------------------------------------------


def q_s_versioned_diff(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from market_data_pipeline_spark.sources import tablefmt as tf

    d = _docs(spark, sf).select("doc_id", "lang", "n_chars")
    tag = os.path.basename(os.path.normpath(sf)) or "sf"
    base_dir = os.path.join(
        tempfile.gettempdir(), f"mdp_vdiff_{tag}"
    )
    shutil.rmtree(base_dir, ignore_errors=True)  # deterministic rebuild
    path = f"{base_dir}/t"
    tf.append(spark, path, d.filter(F.col("doc_id") % 2 == 0))  # v0: base
    updates = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + F.lit(1000)
    )
    newbies = d.filter(
        (F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 5 == 0)
    )
    tf.merge_upsert(
        spark, path, updates.unionByName(newbies), keys=["doc_id"]
    )  # v1: updates + inserts
    tf.delete_where(spark, path, "doc_id % 20 = 0")  # v2: delete a band
    return tf.snapshot_diff(spark, path, ["doc_id"], from_version=0)


SQL_S_VERSIONED_DIFF = """
SELECT 'insert' AS _change_type, doc_id, lang, n_chars
FROM documents WHERE doc_id % 2 = 1 AND doc_id % 5 = 0
UNION ALL
SELECT 'update', doc_id, lang, n_chars + 1000
FROM documents WHERE doc_id % 10 = 0 AND doc_id % 20 <> 0
UNION ALL
SELECT 'delete', doc_id, lang, n_chars
FROM documents WHERE doc_id % 20 = 0
"""


_REGISTRY.update(
    {"inv_s_versioned_diff": (q_s_versioned_diff, SQL_S_VERSIONED_DIFF)}
)


# ---------------------------------------------------------------------------
# Round 6 (final): retrieval-quality self-evaluation — nDCG@10 of the
# BM25 ranking graded against exact token-overlap relevance (shared
# distinct tokens between query and document), the recall@k-style
# self-grading discipline the ANN family already follows.
# ---------------------------------------------------------------------------


def q_t_bm25_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    queries = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(text.tokens(F.col("text")), 1, 4)).alias("qtext"),
    )
    res = text.bm25_topk(d, queries, k=10)
    qt = (
        queries.select(
            "query_id", F.explode(text.tokens(F.col("qtext"))).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    dt = (
        d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    rel = (
        qt.join(dt, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("rel"))
    )
    return text.retrieval_ndcg(res, rel, k=10)


SQL_T_BM25_NDCG = f"""
WITH {_BM25_CHAIN},
res AS (
  SELECT query_id, doc_id, score, rk FROM ranked WHERE rk <= 10
),
dtoks AS (SELECT DISTINCT doc_id, term FROM toks),
rel AS (
  SELECT q.query_id, d.doc_id, CAST(count(*) AS BIGINT) AS rel
  FROM qterms q JOIN dtoks d ON d.term = q.term
  GROUP BY q.query_id, d.doc_id
),
dcg AS (
  SELECT r.query_id,
         sum(round(coalesce(v.rel, 0) / log2(r.rk + 1.0) + 1e-12, 9)) AS dcg
  FROM res r LEFT JOIN rel v
    ON v.query_id = r.query_id AND v.doc_id = r.doc_id
  GROUP BY r.query_id
),
ideal AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id) AS irk
  FROM rel WHERE rel > 0
),
idcg AS (
  SELECT query_id, sum(round(rel / log2(irk + 1.0) + 1e-12, 9)) AS idcg
  FROM ideal WHERE irk <= 10 GROUP BY query_id
)
SELECT d.query_id,
       round(coalesce(d.dcg / nullif(i.idcg, 0), 0) + 1e-9, 6) AS ndcg
FROM dcg d LEFT JOIN idcg i USING (query_id)
"""


_REGISTRY.update({"inv_t_bm25_ndcg": (q_t_bm25_ndcg, SQL_T_BM25_NDCG)})


# ---------------------------------------------------------------------------
# Round 7: hybrid retrieval fusion (r6 verdict task 4) — reciprocal-rank
# fusion of the lexical (BM25) and semantic (embedding-ANN) legs, both of
# which already exist as green queries. RRF needs only the RANKS, so the
# incommensurable scores fuse without calibration; the companion nDCG query
# grades all three rankings against a blended lexical+semantic relevance
# (each leg sees one facet of it — the argument FOR hybrid retrieval).
# ---------------------------------------------------------------------------


def _hybrid_parts(
    spark: SparkSession, sf: str, want_ql: bool = False, want_rel: bool = False
) -> dict:
    """Everything the hybrid-retrieval family shares, materialized with
    OVERLAPPED jobs: BM25 top-10 (query = first four tokens of docs 0-4),
    ANN top-10 over the shared id space, optionally the Dirichlet-QL leg
    and the blended relevance frame.

    r9 plan-truncation discipline: every hybrid consumer references each
    leg (and the index under it) several times — the fused ranking AND
    the per-leg grade — and Catalyst shares no subplans across DataFrame
    reuse, so the lazy form re-executed each leg's whole subtree per
    reference (inv_t_hybrid_ndcg carried 218 plan-time Exchange
    mentions). The legs are therefore MATERIALIZED (eager
    localCheckpoint): each is an O(queries·k) top-k frame — 50 rows here
    — so the checkpoint is the cheapest frame in the query, and every
    downstream join reads the tiny RDD.

    r9, second pass (guide §2.6 — overlap independent jobs): the eager
    materializations form a shallow DAG — the ANN leg never touches the
    inverted index, and lex / ql / rel are mutually independent once the
    index exists — but running them from one driver thread serialized
    ~48 small AQE stages. A 2-then-3-way ThreadPoolExecutor submits them
    concurrently so later jobs back-fill the tail of earlier ones
    (FIFO scheduling). Same-JVM A/B on inv_t_hybrid_ndcg3: sequential
    6.0-8.3 s → overlapped 3.9-4.3 s, hash-identical. Leg values are
    unchanged (each job is the same plan, only submission overlaps)."""
    from concurrent.futures import ThreadPoolExecutor

    d = _docs(spark, sf)
    queries = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(text.tokens(F.col("text")), 1, 4)).alias("qtext"),
    )
    e = load_table(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") < 5)

    def mk_sem():
        return (
            similarity.ann_topk(e, qv, k=10, n_planes=8)
            .select("query_id", F.col("corpus_id").alias("doc_id"), "rk")
            .localCheckpoint(eager=True)
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_sem = pool.submit(mk_sem)
        index = text._bm25_index(d, "text", "doc_id", materialize=True)

        def mk_lex():
            return (
                text.bm25_topk(d, queries, k=10, index=index)
                .select("query_id", "doc_id", "rk")
                .localCheckpoint(eager=True)
            )

        def mk_ql():
            return (
                text.ql_dirichlet_topk(d, queries, k=10, mu=_QL_MU, index=index)
                .select("query_id", "doc_id", "rk")
                .localCheckpoint(eager=True)
            )

        def mk_rel():
            return _hybrid_rel(d, queries, e, qv, dtoks=index[0]).localCheckpoint(
                eager=True
            )

        f_lex = pool.submit(mk_lex)
        f_ql = pool.submit(mk_ql) if want_ql else None
        f_rel = pool.submit(mk_rel) if want_rel else None
        parts = {
            "d": d,
            "queries": queries,
            "e": e,
            "qv": qv,
            "index": index,
            "lex": f_lex.result(),
            "sem": f_sem.result(),
            "ql": f_ql.result() if f_ql is not None else None,
            "rel": f_rel.result() if f_rel is not None else None,
        }
    return parts


def _hybrid_legs(spark: SparkSession, sf: str):
    """Tuple view of _hybrid_parts for the two-leg consumers (and the
    behavior tests): (d, queries, e, qv, lex, sem, index)."""
    p = _hybrid_parts(spark, sf)
    return p["d"], p["queries"], p["e"], p["qv"], p["lex"], p["sem"], p["index"]


def _hybrid_rel(
    d: DataFrame,
    queries: DataFrame,
    e: DataFrame,
    qv: DataFrame,
    dtoks: DataFrame | None = None,
) -> DataFrame:
    """The blended lexical+semantic relevance every hybrid nDCG grade
    shares: shared distinct query terms (the lexical facet) plus a
    banded embedding-cosine judgment (the semantic facet: 2 if cos ≥
    0.5, 1 if ≥ 0.25), summed per (query, doc). Extracted verbatim from
    q_t_hybrid_ndcg in r8 so the three-leg grade reuses it — the plan
    is unchanged (pure code motion).

    ``dtoks`` optionally injects the distinct (doc_id, term) pairs — the
    hybrid entries pass the MATERIALIZED index's tf keys (identical set
    by construction: tf is the per-(doc, term) count), saving one corpus
    tokenization."""
    qt = (
        queries.select(
            "query_id", F.explode(text.tokens(F.col("qtext"))).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    dt = (
        d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    ) if dtoks is None else dtoks.select("doc_id", "term")
    lexrel = (
        qt.join(dt, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__lex"))
    )
    qe = qv.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    ce = e.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("c_vec"),
    )
    cos = F.round(similarity.cosine(F.col("q_vec"), F.col("c_vec")), 6)
    semrel = (
        ce.crossJoin(F.broadcast(qe))
        .select(
            "query_id",
            "doc_id",
            F.when(cos >= 0.5, F.lit(2))
            .when(cos >= 0.25, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("__band"),
        )
        .filter(F.col("__band") > 0)
    )
    return (
        lexrel.join(semrel, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            (
                F.coalesce(F.col("__lex"), F.lit(0))
                + F.coalesce(F.col("__band"), F.lit(0))
            ).cast("long").alias("rel"),
        )
    )


def q_t_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (text.rrf_fuse): the
    BM25 and ANN top-10 lists fused with k=60, re-ranked per query."""
    _, _, _, _, lex, sem, _ = _hybrid_legs(spark, sf)
    return text.rrf_fuse(lex, sem, k_const=60, topk=10)


_ANN10_CHAIN = f"""e10 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b10 AS (SELECT vec_id, v, {_lsh_bucket_sql(8)} AS lsh_bucket FROM e10),
q10 AS (SELECT vec_id AS query_id, v AS qv, lsh_bucket FROM b10 WHERE vec_id < 5),
semscored AS (
  SELECT query_id, c.vec_id AS doc_id,
    round(list_dot_product(qv, c.v)
          / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)), 0), 6) AS cos_sim
  FROM b10 c JOIN q10 USING (lsh_bucket)
  WHERE query_id <> c.vec_id
),
sem AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS rk
    FROM semscored
  ) WHERE rk <= 10
)"""

_RRF_FUSED_CTE = """fused AS (
  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         coalesce(l.doc_id, s.doc_id) AS doc_id,
         round((CASE WHEN l.rk IS NOT NULL THEN 1.0 / (60.0 + l.rk) ELSE 0.0 END)
             + (CASE WHEN s.rk IS NOT NULL THEN 1.0 / (60.0 + s.rk) ELSE 0.0 END)
             + 1e-9, 6) AS rrf_score
  FROM lex l FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
),
rrf AS (
  SELECT query_id, doc_id, rrf_score, rk FROM (
    SELECT query_id, doc_id, rrf_score,
           row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rk
    FROM fused
  ) WHERE rk <= 10
)"""

SQL_T_HYBRID_RRF = f"""
WITH {_BM25_CHAIN},
lex AS (SELECT query_id, doc_id, rk FROM ranked WHERE rk <= 10),
{_ANN10_CHAIN},
{_RRF_FUSED_CTE}
SELECT query_id, doc_id, rrf_score, CAST(rk AS INT) AS rk FROM rrf
"""


def q_t_hybrid_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    """Fusion quality self-grading: nDCG@10 of each leg AND the fused
    ranking against a BLENDED relevance — shared distinct query terms
    (the lexical facet) plus a banded embedding-cosine judgment (the
    semantic facet: 2 if cos ≥ 0.5, 1 if ≥ 0.25). A leg that returns no
    results for a query scores 0 (LEFT joins — queries are never dropped
    because one leg's LSH bucket was empty).

    Honesty note on what the numbers can show HERE: the testdata's
    embeddings are generated independently of the document text, so the
    semantic leg is (by construction) uninformative about any relevance
    that correlates with the text — measured across blends, fusion never
    out-scores the lexical leg on this corpus and cannot be expected to.
    What IS corpus-independent, and what the pytest pins, is the RRF
    mixture property: the fused ranking scores at least as well as the
    WEAKER leg (and carries members of both legs). On a real corpus where
    text and embeddings describe the same documents, the same query
    grades whether fusion dominates — this entry is the measurement
    instrument, demonstrated on data where the answer is knowably 'the
    legs are independent'."""
    # rel is read by every per-leg grade below: materialize it once (a
    # few hundred (query, doc, rel) rows) instead of re-deriving the
    # tokenize-join-crossJoin subtree per grade; built in _hybrid_parts'
    # thread pool so it overlaps the leg jobs (guide §2.6).
    p = _hybrid_parts(spark, sf, want_rel=True)
    lex, sem, rel = p["lex"], p["sem"], p["rel"]
    fused = text.rrf_fuse(lex, sem, k_const=60, topk=10)
    n_lex = text.retrieval_ndcg(lex, rel, k=10).withColumnRenamed("ndcg", "ndcg_lex")
    n_sem = text.retrieval_ndcg(sem, rel, k=10).withColumnRenamed("ndcg", "ndcg_sem")
    n_rrf = text.retrieval_ndcg(fused, rel, k=10).withColumnRenamed("ndcg", "ndcg_rrf")
    return (
        n_lex.join(n_sem, "query_id", "left")
        .join(n_rrf, "query_id", "left")
        .select(
            "query_id",
            "ndcg_lex",
            F.coalesce("ndcg_sem", F.lit(0.0)).alias("ndcg_sem"),
            F.coalesce("ndcg_rrf", F.lit(0.0)).alias("ndcg_rrf"),
        )
    )


def _hybrid_ndcg_leg_sql(res: str, p: str) -> str:
    """dcg/idcg CTE pair for one ranking CTE ``res`` against the shared
    blended-relevance CTEs (hrel/ideal) — mirrors text.retrieval_ndcg's
    quantization exactly (9 dp per-rank gain, 6 dp ratio)."""
    return f"""{p}dcg AS (
  SELECT r.query_id,
         sum(round(coalesce(v.rel, 0) / log2(r.rk + 1.0) + 1e-12, 9)) AS dcg
  FROM {res} r LEFT JOIN hrel v
    ON v.query_id = r.query_id AND v.doc_id = r.doc_id
  GROUP BY r.query_id
),
{p}ndcg AS (
  SELECT d.query_id,
         round(coalesce(d.dcg / nullif(i.idcg, 0), 0) + 1e-9, 6) AS ndcg
  FROM {p}dcg d LEFT JOIN idcg i USING (query_id)
)"""


SQL_T_HYBRID_NDCG = f"""
WITH {_BM25_CHAIN},
lex AS (SELECT query_id, doc_id, rk FROM ranked WHERE rk <= 10),
{_ANN10_CHAIN},
{_RRF_FUSED_CTE},
dtoks AS (SELECT DISTINCT doc_id, term FROM toks),
lexrel AS (
  SELECT q.query_id, d.doc_id, CAST(count(*) AS BIGINT) AS lex
  FROM qterms q JOIN dtoks d ON d.term = q.term
  GROUP BY q.query_id, d.doc_id
),
semrel AS (
  SELECT query_id, c.vec_id AS doc_id,
         CAST(CASE
           WHEN round(list_dot_product(qv, c.v)
                / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)), 0), 6) >= 0.5 THEN 2
           WHEN round(list_dot_product(qv, c.v)
                / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)), 0), 6) >= 0.25 THEN 1
           ELSE 0 END AS BIGINT) AS band
  FROM e10 c CROSS JOIN q10
  WHERE CASE
           WHEN round(list_dot_product(qv, c.v)
                / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)), 0), 6) >= 0.25 THEN 1
           ELSE 0 END = 1
),
hrel AS (
  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         coalesce(l.doc_id, s.doc_id) AS doc_id,
         CAST(coalesce(l.lex, 0) + coalesce(s.band, 0) AS BIGINT) AS rel
  FROM lexrel l FULL OUTER JOIN semrel s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
),
ideal AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id) AS irk
  FROM hrel WHERE rel > 0
),
idcg AS (
  SELECT query_id, sum(round(rel / log2(irk + 1.0) + 1e-12, 9)) AS idcg
  FROM ideal WHERE irk <= 10 GROUP BY query_id
),
{_hybrid_ndcg_leg_sql("lex", "l")},
{_hybrid_ndcg_leg_sql("sem", "s")},
{_hybrid_ndcg_leg_sql("rrf", "r")}
SELECT l.query_id, l.ndcg AS ndcg_lex,
       coalesce(s.ndcg, 0.0) AS ndcg_sem,
       coalesce(r.ndcg, 0.0) AS ndcg_rrf
FROM lndcg l
LEFT JOIN sndcg s USING (query_id)
LEFT JOIN rndcg r USING (query_id)
"""


_REGISTRY.update(
    {
        "inv_t_hybrid_rrf": (q_t_hybrid_rrf, SQL_T_HYBRID_RRF),
        "inv_t_hybrid_ndcg": (q_t_hybrid_ndcg, SQL_T_HYBRID_NDCG),
    }
)


# ---------------------------------------------------------------------------
# Round 7: incremental curation over the versioned change feed (r6 verdict
# task 6) — the 100 TB operational shape: the store is a committed table
# version, the new batch arrives as an append, and read_changes plans ONLY
# the appended files off the manifest diff (the prior corpus is never
# re-scanned to DISCOVER the batch — it participates only as the dedup
# reference, and the pytest pins the planned input files to v1's).
# ---------------------------------------------------------------------------


def q_d_incremental_versioned(spark: SparkSession, sf: str) -> DataFrame:
    """Versioned incremental dedup admission: v0 = the committed store
    (doc_id % 4 != 0), v1 = the appended new batch (doc_id % 4 == 0);
    the batch is consumed via the manifest change feed and admitted with
    dedup.incremental_dedup against the v0 snapshot (exact md5 anti-join
    + cross-corpus-only MinHash-LSH; store×store pairs never recompute)."""
    import os
    import shutil
    import tempfile

    from market_data_pipeline_spark.sources import tablefmt as tf

    d = _docs(spark, sf).select("doc_id", "text")
    tag = os.path.basename(os.path.normpath(sf)) or "sf"
    # Fixed per-sf path (NOT pid-tagged): the returned frame reads the store
    # lazily, so the dir must outlive this call — a pid tag would orphan the
    # previous process's dir on every bench/pytest invocation (r7 ADVICE);
    # the rmtree at the next run's start is the cleanup. SINGLE-PROCESS
    # contract (r8 ADVICE): nothing enforces cross-process exclusion, so a
    # bench and a pytest run sharing one sf would rmtree each other's store
    # mid-lazy-read — run one driver per testdata dir at a time (the house
    # invocation discipline: bench.py is always run ALONE; see
    # .claude/skills/verify).
    base = os.path.join(tempfile.gettempdir(), f"mdp_vincr_{tag}")
    shutil.rmtree(base, ignore_errors=True)  # deterministic rebuild
    path = f"{base}/t"
    tf.append(spark, path, d.filter(F.col("doc_id") % 4 != 0))  # v0: store
    tf.append(spark, path, d.filter(F.col("doc_id") % 4 == 0))  # v1: batch
    new = tf.read_changes(spark, path, from_version=0)
    store = tf.read(spark, path, version=0)
    return dedup.incremental_dedup(new, store, threshold=0.05)


SQL_D_INCREMENTAL_VERSIONED = f"""
WITH {_SHINGLE_SQL},
{_minhash_sig_sql()},
{_band_sql()},
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '[\\s\\v]+', ' ', 'g'))) AS fingerprint
  FROM documents
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id
  FROM buckets n JOIN buckets s
    ON n.band = s.band AND n.bucket = s.bucket
  WHERE n.doc_id % 4 = 0 AND s.doc_id % 4 <> 0
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT c.new_id, c.store_id, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.new_id
  JOIN sh b ON b.doc_id = c.store_id AND b.shingle = a.shingle
  GROUP BY 1, 2
),
near_rejected AS (
  SELECT DISTINCT cm.new_id FROM common cm
  JOIN sizes sa ON sa.doc_id = cm.new_id
  JOIN sizes sb ON sb.doc_id = cm.store_id
  WHERE cm.n_common / CAST(sa.sz + sb.sz - cm.n_common AS DOUBLE) >= 0.05
)
SELECT n.doc_id, n.fingerprint
FROM fp n
WHERE n.doc_id % 4 = 0
  AND n.fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 4 <> 0)
  AND n.doc_id NOT IN (SELECT new_id FROM near_rejected)
"""


_REGISTRY.update(
    {
        "inv_d_incremental_versioned": (
            q_d_incremental_versioned,
            SQL_D_INCREMENTAL_VERSIONED,
        )
    }
)


# ---------------------------------------------------------------------------
# Round 7: streaming heavy hitters (r6 verdict task 7) — the count-min-
# backed trending-items twin of inv_q_cms_heavy_hitters. The counter table
# is maintained by the exactly-once foreachBatch CMS store, a tablefmt
# table read back with tablefmt.read (CMS is a LINEAR sketch: per-batch
# counter deltas sum to the batch-scan counters, so the stream's final
# store equals the batch sketch exactly — pinned by
# test_streaming_cms_maintenance_is_exact_across_batches); the heavy-hitter
# read is the shared quality.cms_estimate_join, so the streaming twin's
# output — and therefore its oracle — is the batch query's verbatim.
# ---------------------------------------------------------------------------


def q_st_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from market_data_pipeline_spark.sources import tablefmt as tf

    tag = os.path.basename(os.path.normpath(sf)) or "sf"
    # fixed per-sf path, rmtree'd here, NOT pid-tagged — see
    # q_d_incremental_versioned for the lifetime rationale (r7 ADVICE)
    base = os.path.join(tempfile.gettempdir(), f"mdp_sthh_{tag}")
    shutil.rmtree(base, ignore_errors=True)  # deterministic rebuild
    ev = streaming_jobs.stream_events(spark, sf)
    q = streaming_jobs.streaming_cms_maintenance(
        ev.select("user_id"),
        f"{base}/store",
        f"{base}/ckpt",
        key_col="user_id",
        width=1024,
        depth=4,
    )
    q.awaitTermination()
    counters = tf.read(spark, f"{base}/store")
    e = load_table(spark, sf, "events")
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return quality.cms_estimate_join(
        counters, exact, "user_id", width=1024, depth=4, min_count=50
    )


_REGISTRY.update({"inv_st_heavy_hitters": (q_st_heavy_hitters, _cms_sql())})


def q_st_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming distinct-count sketches: the exactly-once HLL store
    (streaming_hll_maintenance — per-batch DataSketches HLLs merged by
    register-maximum union, order-insensitive so the final store equals
    the one-shot batch sketch) answers per-event-type distinct users with
    NO rescan of history. Graded like the batch sketch_rollup: exact
    distinct alongside, within-5%-tolerance as a pinned boolean (the
    sketch estimate itself is DataSketches-internal and not
    SQL-reproducible; the accuracy contract is)."""
    import os
    import shutil
    import tempfile

    from market_data_pipeline_spark.sources import tablefmt as tf

    tag = os.path.basename(os.path.normpath(sf)) or "sf"
    # fixed per-sf path, rmtree'd here, NOT pid-tagged — see
    # q_d_incremental_versioned for the lifetime rationale (r7 ADVICE)
    base = os.path.join(tempfile.gettempdir(), f"mdp_sthll_{tag}")
    shutil.rmtree(base, ignore_errors=True)  # deterministic rebuild
    ev = streaming_jobs.stream_events(spark, sf)
    q = streaming_jobs.streaming_hll_maintenance(
        ev.select("event_type", "user_id"),
        f"{base}/store",
        f"{base}/ckpt",
        key_col="event_type",
        distinct_col="user_id",
    )
    q.awaitTermination()
    sketches = tf.read(spark, f"{base}/store")
    e = load_table(spark, sf, "events")
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        sketches.select(
            "event_type", F.hll_sketch_estimate("sk").alias("__est")
        )
        .join(exact, "event_type")
        .select(
            "event_type",
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            (
                F.abs(F.col("__est") - F.col("exact_distinct"))
                <= F.lit(0.05) * F.col("exact_distinct")
            ).alias("within_tol"),
        )
    )


SQL_ST_HLL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS within_tol
FROM events GROUP BY event_type
"""


_REGISTRY.update({"inv_st_hll_distinct": (q_st_hll_distinct, SQL_ST_HLL)})


# ---------------------------------------------------------------------------
# Round 7 (continued): pseudo-relevance feedback — RM3-style query
# expansion over the shared BM25 index (text.bm25_prf_topk). Pass 1's top
# feedback docs contribute their highest-TF unseen terms; pass 2 rescores
# with the expanded term set. The index is built once; pass 2 is one more
# posting-list join, never a corpus re-scan.
# ---------------------------------------------------------------------------


def q_t_bm25_prf(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    queries = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(text.tokens(F.col("text")), 1, 4)).alias("qtext"),
    )
    return text.bm25_prf_topk(d, queries, k=10, fb_k=3, expand_m=3)


SQL_T_BM25_PRF = f"""
WITH {_BM25_CHAIN},
fb AS (SELECT query_id, doc_id FROM ranked WHERE rk <= 3),
expw AS (
  SELECT f.query_id, t.term, sum(t.tf) AS w
  FROM fb f
  JOIN tf t ON t.doc_id = f.doc_id
  LEFT JOIN qterms q ON q.query_id = f.query_id AND q.term = t.term
  WHERE q.term IS NULL
  GROUP BY 1, 2
),
exp AS (
  SELECT query_id, term FROM (
    SELECT query_id, term,
           row_number() OVER (PARTITION BY query_id ORDER BY w DESC, term) AS erk
    FROM expw
  ) WHERE erk <= 3
),
qterms2 AS (
  SELECT query_id, term FROM qterms
  UNION
  SELECT query_id, term FROM exp
),
contrib2 AS (
  SELECT qt.query_id, tf.doc_id,
         i.idf * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS c
  FROM qterms2 qt
  JOIN tf ON tf.term = qt.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN idf i ON i.term = qt.term
  CROSS JOIN stats s
),
scored2 AS (
  SELECT query_id, doc_id, round(sum(c) + 1e-9, 6) AS score
  FROM contrib2 GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
  FROM scored2
) WHERE rk <= 10
"""


_REGISTRY.update({"inv_t_bm25_prf": (q_t_bm25_prf, SQL_T_BM25_PRF)})


# ---------------------------------------------------------------------------
# Round 7 (continued): two cheap curation diagnostics — per-document
# character entropy (the quality gate between length heuristics and LM
# scoring: low = repetition, high = base64/binary junk) and per-source
# unigram-KL drift from the corpus distribution (the mixture-health check
# before reweighting sources).
# ---------------------------------------------------------------------------


def q_t_char_entropy(spark: SparkSession, sf: str) -> DataFrame:
    return text.char_entropy(_docs(spark, sf))


SQL_T_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '(?s).')) AS ch
  FROM documents
),
counts AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
totals AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
         CAST(count(*) AS BIGINT) AS n_distinct_chars
  FROM counts GROUP BY 1
),
pd AS (
  SELECT c2.doc_id, max(t.n_chars) AS n_chars,
         max(t.n_distinct_chars) AS n_distinct_chars,
         round(0.0 - sum((c2.c / CAST(t.n_chars AS DOUBLE))
                         * log2(c2.c / CAST(t.n_chars AS DOUBLE)))
               + 1e-9, 6) AS char_entropy
  FROM counts c2 JOIN totals t USING (doc_id) GROUP BY c2.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(pd.n_chars, 0) AS BIGINT) AS n_chars,
       CAST(coalesce(pd.n_distinct_chars, 0) AS BIGINT) AS n_distinct_chars,
       coalesce(pd.char_entropy, 0.0) AS char_entropy
FROM documents d LEFT JOIN pd USING (doc_id)
"""


def q_t_domain_kl(spark: SparkSession, sf: str) -> DataFrame:
    return text.domain_kl(_docs(spark, sf))


SQL_T_DOMAIN_KL = f"""
WITH wt AS (
  SELECT src, word AS w FROM (
    SELECT source AS src, unnest(string_split({_NORM_SQL}, ' ')) AS word
    FROM documents
  ) WHERE word <> ''
),
cs AS (SELECT src, w, count(*) AS c_s FROM wt GROUP BY 1, 2),
cw AS (SELECT w, count(*) AS c_all FROM wt GROUP BY 1),
ns AS (SELECT src, count(*) AS n_s FROM wt GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c_all) AS BIGINT) AS n
  FROM cw
),
grid AS (
  SELECT ns.src, cw.w, cw.c_all, ns.n_s, cs.c_s, tot.v, tot.n
  FROM cw CROSS JOIN ns
  LEFT JOIN cs ON cs.src = ns.src AND cs.w = cw.w
  CROSS JOIN tot
)
SELECT src AS source,
       CAST(max(n_s) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN c_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS vocab_seen,
       round(sum(((coalesce(c_s, 0) + 1) / CAST(n_s + v AS DOUBLE))
                 * log2(((coalesce(c_s, 0) + 1) / CAST(n_s + v AS DOUBLE))
                        / ((c_all + 1) / CAST(n + v AS DOUBLE))))
             + 1e-9, 6) AS kl_bits
FROM grid GROUP BY src
"""


_REGISTRY.update(
    {
        "inv_t_char_entropy": (q_t_char_entropy, SQL_T_CHAR_ENTROPY),
        "inv_t_domain_kl": (q_t_domain_kl, SQL_T_DOMAIN_KL),
    }
)


# ---------------------------------------------------------------------------
# Round 7 (continued): top principal component of the embedding cloud by
# distributed power iteration (similarity.pca_power) — per-vector signed
# projection on the dominant direction plus its variance estimate. The
# driver-side state is O(dim) per round (the k-means-centroid collect
# class); the oracle replays every round as a chained MATERIALIZED CTE
# generating the SAME left-to-right dot chains, so the fit is bit-exact.
# ---------------------------------------------------------------------------


def q_v_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return similarity.pca_power(e, iterations=8)


def _pca_chain(vec: str, lst: str, dim: int = 64) -> str:
    acc = f"({vec}[1]*{lst}[1])"
    for i in range(2, dim + 1):
        acc = f"({acc} + {vec}[{i}]*{lst}[{i}])"
    return acc


def _pca_chain_cols(prefix: str, dim: int = 64) -> str:
    acc = f"({prefix}1*{prefix}1)"
    for i in range(2, dim + 1):
        acc = f"({acc} + {prefix}{i}*{prefix}{i})"
    return acc


def _pca_chain_mixed(prefix: str, lst: str, dim: int = 64) -> str:
    acc = f"({prefix}1*{lst}[1])"
    for i in range(2, dim + 1):
        acc = f"({acc} + {prefix}{i}*{lst}[{i}])"
    return acc


def _pca_sign_cte(src: str, out: str, dim: int = 64) -> str:
    first_nz = ", ".join(
        f"CASE WHEN abs(w[{i}]) > 1e-6 THEN w[{i}] END"
        for i in range(1, dim + 1)
    )
    return f"""{out}sgn AS MATERIALIZED (
  SELECT n, nrm, w,
         CASE WHEN coalesce({first_nz}) < 0 THEN -1.0 ELSE 1.0 END AS sg
  FROM {src}
),
{out} AS MATERIALIZED (
  SELECT n, nrm, list_transform(w, x -> x * sg) AS w FROM {out}sgn
)"""


def _pca1_parts(iterations: int = 8, dim: int = 64) -> list[str]:
    """CTE parts for the pc1 power-iteration chain, through the
    sign-pinned final weight table ``wf`` — shared by the pc1 oracle and
    the deflated-pc2 oracle (which consumes wf as its w1)."""
    chain = lambda a, b: _pca_chain(a, b, dim)  # noqa: E731
    mu_list = ", ".join(
        f"round(avg(v[{i}]) + 1e-13, 10)" for i in range(1, dim + 1)
    )
    w0_list = ", ".join(["0.125"] * dim)
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        f"mu AS MATERIALIZED (SELECT [{mu_list}] AS m FROM e),",
        f"w0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS nrm, [{w0_list}] AS w),",
    ]
    for k in range(1, iterations + 1):
        sv_cols = ", ".join(
            f"sum(s*v[{i}]) AS sv{i}" for i in range(1, dim + 1)
        )
        u_cols = ", ".join(
            f"round((a.sv{i} - m.m[{i}]*a.ss) + 1e-13, 8) AS u{i}"
            for i in range(1, dim + 1)
        )
        w_list = ", ".join(
            f"round(u{i} / nrm + 1e-13, 10)" for i in range(1, dim + 1)
        )
        parts.append(
            f"""s{k} AS (
  SELECT v, round({chain('v', 'w.w')} - {chain('m.m', 'w.w')} + 1e-13, 10) AS s
  FROM e CROSS JOIN w{k - 1} w CROSS JOIN mu m
),
a{k} AS MATERIALIZED (
  SELECT count(*) AS n, sum(s) AS ss, {sv_cols} FROM s{k}
),
u{k} AS MATERIALIZED (
  SELECT a.n AS n, {u_cols} FROM a{k} a CROSS JOIN mu m
),
n{k} AS MATERIALIZED (
  SELECT n, round(sqrt({_pca_chain_cols('u', dim)}) + 1e-13, 10) AS nrm, * FROM u{k}
),
w{k} AS MATERIALIZED (
  SELECT n, nrm, [{w_list}] AS w FROM n{k}
),"""
        )
    parts.append(_pca_sign_cte(f"w{iterations}", "wf", dim))
    return parts


def _pca_sql(iterations: int = 8, dim: int = 64) -> str:
    chain = lambda a, b: _pca_chain(a, b, dim)  # noqa: E731
    parts = _pca1_parts(iterations, dim)
    parts[-1] += f"""
SELECT e.vec_id,
       round({chain('e.v', 'f.w')} - {chain('m.m', 'f.w')} + 1e-9, 6) AS pc1,
       round(f.nrm / f.n + 1e-9, 6) AS pc1_var
FROM e CROSS JOIN wf f CROSS JOIN mu m"""
    return "\n".join(parts)


_REGISTRY.update({"inv_v_pca_power": (q_v_pca_power, _pca_sql())})


def q_v_embedding_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Centroid-distance embedding outliers (similarity.embedding_outliers):
    per-vector distance to the quantized mean, modified z-score via
    median/MAD (the robust discipline of inv_x_robust_anomaly), and the
    3.5-cutoff flag — the vector-cleaning pass before clustering/ANN."""
    e = load_table(spark, sf, "embeddings")
    return similarity.embedding_outliers(e, cutoff=3.5, dim=64)


def _embedding_outliers_sql(dim: int = 64, cutoff: float = 3.5) -> str:
    sq = "((v[1]-m.m[1])*(v[1]-m.m[1]))"
    for i in range(2, dim + 1):
        sq = f"({sq} + (v[{i}]-m.m[{i}])*(v[{i}]-m.m[{i}]))"
    mu_list = ", ".join(
        f"round(avg(v[{i}]) + 1e-13, 10)" for i in range(1, dim + 1)
    )
    return f"""
WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
mu AS MATERIALIZED (SELECT [{mu_list}] AS m FROM e),
d AS MATERIALIZED (
  SELECT vec_id, round(sqrt({sq}) + 1e-9, 6) AS dist
  FROM e CROSS JOIN mu m
),
st AS MATERIALIZED (SELECT quantile_cont(dist, 0.5) AS med FROM d),
md AS MATERIALIZED (
  SELECT quantile_cont(abs(d.dist - st.med), 0.5) AS mad
  FROM d CROSS JOIN st
)
SELECT d.vec_id, d.dist,
       round(CASE WHEN md.mad > 0
                  THEN 0.6745 * (d.dist - st.med) / md.mad
                  ELSE 0.0 END + 1e-9, 6) AS mod_z,
       (md.mad > 0 AND abs(0.6745 * (d.dist - st.med) / md.mad) > {cutoff!r})
         AS is_outlier
FROM d CROSS JOIN st CROSS JOIN md
"""


_REGISTRY.update(
    {
        "inv_v_embedding_outliers": (
            q_v_embedding_outliers,
            _embedding_outliers_sql(),
        )
    }
)


# ---------------------------------------------------------------------------
# Round 8: the third retrieval leg (r7 verdict task 4) — Dirichlet-smoothed
# query likelihood (Zhai & Lafferty, SIGIR 2001), the standard language-model
# alternative to BM25, scored over the SAME shared inverted index (_bm25_index
# tf/dl; idf is never referenced so Catalyst never builds it). Then the
# three-leg hybrid: lexical (BM25) + semantic (embedding ANN) + LM (QL) fused
# with reciprocal ranks, and the nDCG self-grade of all four rankings against
# the shared blended relevance.
# ---------------------------------------------------------------------------

_QL_MU = 2000.0  # the Zhai-Lafferty recommended prior mass; repr-pinned in SQL


def q_t_ql_dirichlet(spark: SparkSession, sf: str) -> DataFrame:
    """Dirichlet query-likelihood top-10 (text.ql_dirichlet_topk) for the
    shared first-four-token queries of docs 0-4 — the LM retrieval leg."""
    d = _docs(spark, sf)
    queries = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(text.tokens(F.col("text")), 1, 4)).alias("qtext"),
    )
    return text.ql_dirichlet_topk(d, queries, k=10, mu=_QL_MU)


# QL chain over _BM25_CHAIN's tf/dl/qterms CTEs (unreferenced BM25 CTEs —
# idf, contrib, ranked — are plain CTEs DuckDB never evaluates). Arithmetic
# mirrors text._ql_rank operation for operation: the matched-term gain
# ln(1 + tf*|C| / (mu*cf)) quantized at 6 dp, the per-doc length prior
# ln(mu / (dl + mu)) quantized at 6 dp, sum + nq*prior requantized at 6 dp.
_QL_CHAIN = f"""qlcf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
qltot AS (SELECT CAST(sum(dl) AS BIGINT) AS t FROM dl),
qlnq AS (
  SELECT qt.query_id, CAST(count(*) AS BIGINT) AS nq
  FROM qterms qt JOIN qlcf c ON c.term = qt.term
  GROUP BY qt.query_id
),
qldlt AS (
  SELECT doc_id, round(ln({_QL_MU!r} / (dl + {_QL_MU!r})) + 1e-9, 6) AS dlt FROM dl
),
qlcontrib AS (
  SELECT qt.query_id, tf.doc_id,
         round(ln(1.0 + CAST(tf.tf AS DOUBLE) * t.t / ({_QL_MU!r} * c.cf)) + 1e-9, 6) AS c
  FROM qterms qt
  JOIN tf ON tf.term = qt.term
  JOIN qlcf c ON c.term = qt.term
  CROSS JOIN qltot t
),
qlscored AS (
  SELECT s.query_id, s.doc_id, round(s.sc + n.nq * d.dlt + 1e-9, 6) AS score
  FROM (SELECT query_id, doc_id, sum(c) AS sc FROM qlcontrib GROUP BY 1, 2) s
  JOIN qldlt d USING (doc_id)
  JOIN qlnq n USING (query_id)
),
qlranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
  FROM qlscored
),
ql10 AS (SELECT query_id, doc_id, rk FROM qlranked WHERE rk <= 10)"""

SQL_T_QL_DIRICHLET = f"""
WITH {_BM25_CHAIN},
{_QL_CHAIN}
SELECT query_id, doc_id, score, CAST(rk AS INT) AS rk FROM qlranked WHERE rk <= 10
"""


_REGISTRY.update({"inv_t_ql_dirichlet": (q_t_ql_dirichlet, SQL_T_QL_DIRICHLET)})


def _hybrid_legs3(spark: SparkSession, sf: str):
    """The three rankings of the full hybrid: BM25, embedding-ANN, and
    Dirichlet QL — the QL leg reads the same materialized inverted index
    as the BM25 leg, and the three leg jobs overlap (_hybrid_parts)."""
    p = _hybrid_parts(spark, sf, want_ql=True)
    return (
        p["d"], p["queries"], p["e"], p["qv"],
        p["lex"], p["sem"], p["ql"], p["index"],
    )


def q_t_hybrid_rrf3(spark: SparkSession, sf: str) -> DataFrame:
    """Three-leg hybrid retrieval (text.rrf_fuse_many): BM25 + ANN + QL
    top-10 lists fused by reciprocal rank with k=60, re-ranked per query.
    Leg order (lex, sem, ql) pins the fused sum's addition order."""
    _, _, _, _, lex, sem, ql, _ = _hybrid_legs3(spark, sf)
    return text.rrf_fuse_many([lex, sem, ql], k_const=60, topk=10)


# Three-way fusion: the two-leg chain joins stay associatively grouped as
# ((lex ⟗ sem) ⟗ ql) with coalesced keys per step — the same shape Spark's
# chained list-key full-outer joins produce, and the CASE additions run
# left-to-right in leg order so the double sum matches bit-for-bit.
_RRF3_FUSED_CTE = """f12 AS (
  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         coalesce(l.doc_id, s.doc_id) AS doc_id,
         l.rk AS r0, s.rk AS r1
  FROM lex l FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
),
fused3 AS (
  SELECT coalesce(a.query_id, q.query_id) AS query_id,
         coalesce(a.doc_id, q.doc_id) AS doc_id,
         round((CASE WHEN a.r0 IS NOT NULL THEN 1.0 / (60.0 + a.r0) ELSE 0.0 END)
             + (CASE WHEN a.r1 IS NOT NULL THEN 1.0 / (60.0 + a.r1) ELSE 0.0 END)
             + (CASE WHEN q.rk IS NOT NULL THEN 1.0 / (60.0 + q.rk) ELSE 0.0 END)
             + 1e-9, 6) AS rrf_score
  FROM f12 a FULL OUTER JOIN ql10 q
    ON a.query_id = q.query_id AND a.doc_id = q.doc_id
),
rrf3 AS (
  SELECT query_id, doc_id, rrf_score, rk FROM (
    SELECT query_id, doc_id, rrf_score,
           row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rk
    FROM fused3
  ) WHERE rk <= 10
)"""

SQL_T_HYBRID_RRF3 = f"""
WITH {_BM25_CHAIN},
lex AS (SELECT query_id, doc_id, rk FROM ranked WHERE rk <= 10),
{_ANN10_CHAIN},
{_QL_CHAIN},
{_RRF3_FUSED_CTE}
SELECT query_id, doc_id, rrf_score, CAST(rk AS INT) AS rk FROM rrf3
"""


_REGISTRY.update({"inv_t_hybrid_rrf3": (q_t_hybrid_rrf3, SQL_T_HYBRID_RRF3)})


def q_t_hybrid_ndcg3(spark: SparkSession, sf: str) -> DataFrame:
    """nDCG@10 of all three legs AND the three-way fusion against the
    shared blended relevance (_hybrid_rel — the same judgment
    inv_t_hybrid_ndcg grades with, so the two- and three-leg entries are
    directly comparable). The same honesty note applies: this corpus's
    embeddings are independent of the text, so the pinned bound is
    'fused ≥ the weakest leg', not semantic dominance; on a real corpus
    the same query measures whether the LM leg adds recall BM25 misses.
    The QL leg rides the lexical facet too, so unlike the ANN leg it is
    informative here — the grade shows three-leg fusion holding up when
    two legs agree and one dissents, the regime RRF's k=60 damping is
    designed for."""
    # same rel-materialization rationale as q_t_hybrid_ndcg (4 grades
    # read it); rel/ql/lex jobs overlap in _hybrid_parts' pool (§2.6).
    p = _hybrid_parts(spark, sf, want_ql=True, want_rel=True)
    lex, sem, ql, rel = p["lex"], p["sem"], p["ql"], p["rel"]
    fused = text.rrf_fuse_many([lex, sem, ql], k_const=60, topk=10)
    n_lex = text.retrieval_ndcg(lex, rel, k=10).withColumnRenamed("ndcg", "ndcg_lex")
    n_sem = text.retrieval_ndcg(sem, rel, k=10).withColumnRenamed("ndcg", "ndcg_sem")
    n_ql = text.retrieval_ndcg(ql, rel, k=10).withColumnRenamed("ndcg", "ndcg_ql")
    n_rrf = text.retrieval_ndcg(fused, rel, k=10).withColumnRenamed(
        "ndcg", "ndcg_rrf3"
    )
    return (
        n_lex.join(n_sem, "query_id", "left")
        .join(n_ql, "query_id", "left")
        .join(n_rrf, "query_id", "left")
        .select(
            "query_id",
            "ndcg_lex",
            F.coalesce("ndcg_sem", F.lit(0.0)).alias("ndcg_sem"),
            F.coalesce("ndcg_ql", F.lit(0.0)).alias("ndcg_ql"),
            F.coalesce("ndcg_rrf3", F.lit(0.0)).alias("ndcg_rrf3"),
        )
    )


SQL_T_HYBRID_NDCG3 = f"""
WITH {_BM25_CHAIN},
lex AS (SELECT query_id, doc_id, rk FROM ranked WHERE rk <= 10),
{_ANN10_CHAIN},
{_QL_CHAIN},
{_RRF3_FUSED_CTE},
dtoks AS (SELECT DISTINCT doc_id, term FROM toks),
lexrel AS (
  SELECT q.query_id, d.doc_id, CAST(count(*) AS BIGINT) AS lex
  FROM qterms q JOIN dtoks d ON d.term = q.term
  GROUP BY q.query_id, d.doc_id
),
semrel AS (
  SELECT query_id, c.vec_id AS doc_id,
         CAST(CASE
           WHEN round(list_dot_product(qv, c.v)
                / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)), 0), 6) >= 0.5 THEN 2
           WHEN round(list_dot_product(qv, c.v)
                / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)), 0), 6) >= 0.25 THEN 1
           ELSE 0 END AS BIGINT) AS band
  FROM e10 c CROSS JOIN q10
  WHERE CASE
           WHEN round(list_dot_product(qv, c.v)
                / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)), 0), 6) >= 0.25 THEN 1
           ELSE 0 END = 1
),
hrel AS (
  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         coalesce(l.doc_id, s.doc_id) AS doc_id,
         CAST(coalesce(l.lex, 0) + coalesce(s.band, 0) AS BIGINT) AS rel
  FROM lexrel l FULL OUTER JOIN semrel s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
),
ideal AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id) AS irk
  FROM hrel WHERE rel > 0
),
idcg AS (
  SELECT query_id, sum(round(rel / log2(irk + 1.0) + 1e-12, 9)) AS idcg
  FROM ideal WHERE irk <= 10 GROUP BY query_id
),
{_hybrid_ndcg_leg_sql("lex", "l")},
{_hybrid_ndcg_leg_sql("sem", "s")},
{_hybrid_ndcg_leg_sql("ql10", "q")},
{_hybrid_ndcg_leg_sql("rrf3", "f")}
SELECT l.query_id, l.ndcg AS ndcg_lex,
       coalesce(s.ndcg, 0.0) AS ndcg_sem,
       coalesce(q.ndcg, 0.0) AS ndcg_ql,
       coalesce(f.ndcg, 0.0) AS ndcg_rrf3
FROM lndcg l
LEFT JOIN sndcg s USING (query_id)
LEFT JOIN qndcg q USING (query_id)
LEFT JOIN fndcg f USING (query_id)
"""


_REGISTRY.update({"inv_t_hybrid_ndcg3": (q_t_hybrid_ndcg3, SQL_T_HYBRID_NDCG3)})


# ---------------------------------------------------------------------------
# Round 8: the full CDC lifecycle in dedup admission (r7 verdict task 5) —
# inv_d_incremental_versioned covered growth (appends via the change feed);
# this entry covers the other two verbs. A merge commit UPDATES some docs
# and INSERTS the new batch, a delete commit removes others; snapshot_diff
# classifies every key, and dedup.cdc_admission evicts deleted/updated docs
# from the admission reference BEFORE any signature work (their LSH bands
# are never built), then re-admits the incoming side against the survivors.
# The 100 TB shape: the prior corpus is the keyed-diff join's other side —
# never re-fingerprinted, never re-banded.
# ---------------------------------------------------------------------------


def q_d_cdc_admission(spark: SparkSession, sf: str) -> DataFrame:
    """Versioned insert→update→delete lifecycle: v0 commits the store
    (doc_id % 4 != 0); one merge commit updates doc_id % 8 == 1 (text
    prefixed 'upd ') and inserts doc_id % 4 == 0; a delete commit drops
    doc_id % 8 == 5. snapshot_diff(v0 → head) feeds cdc_admission."""
    import os
    import shutil
    import tempfile

    from market_data_pipeline_spark.sources import tablefmt as tf

    d = _docs(spark, sf).select("doc_id", "text")
    tag = os.path.basename(os.path.normpath(sf)) or "sf"
    # fixed per-sf path, rmtree'd here — see q_d_incremental_versioned
    base = os.path.join(tempfile.gettempdir(), f"mdp_cdc_{tag}")
    shutil.rmtree(base, ignore_errors=True)  # deterministic rebuild
    path = f"{base}/t"
    tf.append(spark, path, d.filter(F.col("doc_id") % 4 != 0))  # v0: store
    updates = d.filter(F.col("doc_id") % 8 == 1).withColumn(
        "text", F.concat(F.lit("upd "), F.col("text"))
    )
    inserts = d.filter(F.col("doc_id") % 4 == 0)
    tf.merge_upsert(
        spark, path, updates.unionByName(inserts), keys=["doc_id"]
    )  # v1: update + insert in one commit
    tf.delete_where(spark, path, "doc_id % 8 = 5")  # v2: delete
    changes = tf.snapshot_diff(spark, path, ["doc_id"], from_version=0)
    store = tf.read(spark, path, version=0)
    return dedup.cdc_admission(changes, store, threshold=0.05)


# The oracle replays the lifecycle arithmetic directly over `documents`:
# incoming = inserts (raw text) + updates ('upd ' || text); the effective
# store = v0 minus updated minus deleted keys. One shingle chain over the
# tagged union corpus feeds the same 12-hash/4-band LSH as the Spark side.
SQL_D_CDC_ADMISSION = f"""
WITH cdocs AS (
  SELECT doc_id, text, 'in' AS side FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, 'upd ' || text, 'in' FROM documents WHERE doc_id % 8 = 1
  UNION ALL
  SELECT doc_id, text, 'st' FROM documents
  WHERE doc_id % 4 <> 0 AND doc_id % 8 <> 1 AND doc_id % 8 <> 5
),
norm AS (SELECT doc_id, side, {_NORM_SQL} AS nt FROM cdocs),
toks AS (SELECT doc_id, side, string_split(nt, ' ') AS t FROM norm),
sh AS (
  SELECT doc_id, side,
         unnest(list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks
),
sig AS (
  SELECT doc_id, side,
         {", ".join(f"min(md5('{k}|' || shingle)) AS mh_{k}" for k in range(12))}
  FROM sh GROUP BY doc_id, side
),
buckets AS (
  {" UNION ALL ".join(
      "SELECT doc_id, side, %d AS band, md5(concat_ws('|', %s)) AS bucket FROM sig"
      % (b, ", ".join(f"mh_{b * 3 + r}" for r in range(3)))
      for b in range(4)
  )}
),
fp AS (SELECT doc_id, side, md5(nt) AS fingerprint FROM norm),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id
  FROM buckets n JOIN buckets s
    ON n.band = s.band AND n.bucket = s.bucket
  WHERE n.side = 'in' AND s.side = 'st'
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT c.new_id, c.store_id, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.new_id
  JOIN sh b ON b.doc_id = c.store_id AND b.shingle = a.shingle
  GROUP BY 1, 2
),
near_rejected AS (
  SELECT DISTINCT cm.new_id FROM common cm
  JOIN sizes sa ON sa.doc_id = cm.new_id
  JOIN sizes sb ON sb.doc_id = cm.store_id
  WHERE cm.n_common / CAST(sa.sz + sb.sz - cm.n_common AS DOUBLE) >= 0.05
)
SELECT n.doc_id, n.fingerprint,
       CASE WHEN n.doc_id % 4 = 0 THEN 'insert' ELSE 'update' END AS change_type
FROM fp n
WHERE n.side = 'in'
  AND n.fingerprint NOT IN (SELECT fingerprint FROM fp WHERE side = 'st')
  AND n.doc_id NOT IN (SELECT new_id FROM near_rejected)
"""


_REGISTRY.update({"inv_d_cdc_admission": (q_d_cdc_admission, SQL_D_CDC_ADMISSION)})


# ---------------------------------------------------------------------------
# Round 8 (continued): per-document cross-entropy under the trained unigram
# LM — the model-based quality gate between the cheap heuristics (length /
# stopword / char-entropy) and a neural scorer (the CCNet "lm_score"
# signal). The Viterbi DP runs once on the O(vocab) word table; the corpus
# pays one tokenize + one word-keyed join; OOV-character words are counted
# but not scored (the _UNI_NEG floor is "infinite surprise", not signal).
# ---------------------------------------------------------------------------


def q_t_unigram_ppl(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    # ONE corpus word-count pass feeds both the trainer vocabulary and the
    # scoring vocabulary (r9): all_words ⊇ the top-_UNI_TOP_WORDS training
    # slice by construction (_uni_words is exactly this frame + orderBy +
    # limit), so deriving the train input from the CHECKPOINTED all_words
    # drops a second tokenize+explode+groupBy scan of the corpus. Rows,
    # ordering tiebreak, and every downstream value are unchanged.
    all_words = (
        text.word_counts(d)
        .filter(F.length("word") <= 12)
        .localCheckpoint(eager=True)
    )
    train = all_words.orderBy(F.desc("cnt"), "word").limit(_UNI_TOP_WORDS)
    p = text.unigram_train(train, em_iters=_UNI_EM_ITERS)
    return text.unigram_doc_nll(d, all_words, p)


def _unigram_ppl_sql(em: int = _UNI_EM_ITERS) -> str:
    NEG = "-1000000000.0"
    N, P = 12, 3
    return f"""
WITH RECURSIVE
{_unigram_sql_chain(em)},
pallw AS MATERIALIZED (
  SELECT DISTINCT word FROM toksu
  WHERE regexp_matches(word, '^[a-z]+$') AND length(word) <= {N}
),
pcand AS MATERIALIZED (
  SELECT w.word, CAST(s.range AS INT) AS s, CAST(j.range AS INT) AS j,
         substr(w.word, CAST(s.range AS INT), CAST(j.range AS INT)) AS pc
  FROM pallw w, range(1, {N + 1}) s, range(1, {P + 1}) j
  WHERE s.range + j.range - 1 <= length(w.word)
),
pgrid AS MATERIALIZED (
  SELECT c.word, c.s + c.j - 1 AS e,
    max(CASE WHEN c.j = 1 THEN coalesce(p.lp, {NEG}) END) AS el1,
    max(CASE WHEN c.j = 2 THEN coalesce(p.lp, {NEG}) END) AS el2,
    max(CASE WHEN c.j = 3 THEN coalesce(p.lp, {NEG}) END) AS el3
  FROM pcand c LEFT JOIN up{em} p ON p.piece = c.pc
  GROUP BY c.word, c.s + c.j - 1
),
pfwd AS (
  SELECT word, 1 AS i, [0.0]::DOUBLE[] AS barr, []::INT[] AS bparr FROM pallw
  UNION ALL
  SELECT word, i + 1,
         list_append(barr, greatest(t1, t2, t3)),
         list_append(bparr, CASE WHEN greatest(t1, t2, t3) = t3 THEN 3
                                 WHEN greatest(t1, t2, t3) = t2 THEN 2
                                 ELSE 1 END)
  FROM (
    SELECT f.word, f.i, f.barr, f.bparr,
           f.barr[f.i] + coalesce(g.el1, {NEG}) AS t1,
           CASE WHEN f.i >= 2 THEN f.barr[f.i - 1] + coalesce(g.el2, {NEG})
                ELSE -1e18 END AS t2,
           CASE WHEN f.i >= 3 THEN f.barr[f.i - 2] + coalesce(g.el3, {NEG})
                ELSE -1e18 END AS t3
    FROM pfwd f LEFT JOIN pgrid g ON g.word = f.word AND g.e = f.i
    WHERE f.i <= {N}
  )
),
pbt AS (
  SELECT word, bparr, CAST(length(word) AS INT) AS pos, []::VARCHAR[] AS pcs
  FROM pfwd WHERE i = {N + 1}
  UNION ALL
  SELECT word, bparr, pos - bparr[pos],
         list_append(pcs, substr(word, pos - bparr[pos] + 1, bparr[pos]))
  FROM pbt WHERE pos > 0
),
uwlp AS MATERIALIZED (
  SELECT t.word, CAST(count(*) AS BIGINT) AS ntok,
         round(sum(coalesce(p.lp, {NEG})) + 1e-13, 8) AS lp
  FROM (SELECT word, unnest(pcs) AS piece FROM pbt WHERE pos = 0) t
  LEFT JOIN up{em} p ON p.piece = t.piece
  GROUP BY t.word
),
pocc AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS word FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$') AND length(word) <= {N}
),
pdoc AS (
  SELECT o.doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(count(*) FILTER (WHERE w.lp > -100000000.0) AS BIGINT) AS n_scored,
         CAST(coalesce(sum(w.ntok) FILTER (WHERE w.lp > -100000000.0), 0) AS BIGINT) AS n_tokens,
         round(coalesce(sum(w.lp) FILTER (WHERE w.lp > -100000000.0), 0.0) + 1e-13, 8) AS lpsum
  FROM pocc o JOIN uwlp w USING (word) GROUP BY o.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_words, 0) AS n_words,
       coalesce(p.n_scored, 0) AS n_scored,
       coalesce(p.n_tokens, 0) AS n_tokens,
       CASE WHEN coalesce(p.n_tokens, 0) > 0
            THEN round(-p.lpsum / p.n_tokens + 1e-9, 6) ELSE 0.0 END AS nll_per_token
FROM documents d LEFT JOIN pdoc p USING (doc_id)
"""


_REGISTRY.update({"inv_t_unigram_ppl": (q_t_unigram_ppl, _unigram_ppl_sql())})


# ---------------------------------------------------------------------------
# Round 8 (continued): label-propagation communities — the near-linear
# partition PRODUCER beside the structural graph outputs (components =
# connectivity, k-core = density, modularity = a partition score). All
# compared values are integer counts and labels, so cross-engine parity is
# structural; the fixed 5-round budget pins the synchronous update exactly
# like pagerank's iteration count.
# ---------------------------------------------------------------------------


def q_g_label_prop(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import graph

    return graph.label_propagation(
        graph.copurchase_edges(spark, sf), iterations=5
    )


def _label_prop_sql(iterations: int = 5) -> str:
    steps = []
    prev = "lp0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""lp{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT v.node, v.lbl,
           row_number() OVER (PARTITION BY v.node ORDER BY v.c DESC, v.lbl) AS rn
    FROM (SELECT sym.d AS node, l.lbl, count(*) AS c
          FROM sym JOIN {prev} l ON sym.s = l.node GROUP BY 1, 2) v
  ) WHERE rn = 1)"""
        )
        prev = f"lp{i}"
    return f"""
WITH {_SQL_G_EDGES},
sym AS (SELECT src AS s, dst AS d FROM e UNION ALL SELECT dst AS s, src AS d FROM e),
lp0 AS (SELECT DISTINCT s AS node, s AS lbl FROM sym),
{','.join(steps)}
SELECT node, lbl AS community FROM {prev}
"""


_REGISTRY.update({"inv_g_label_prop": (q_g_label_prop, _label_prop_sql())})


# ---------------------------------------------------------------------------
# Round 8 (continued): top-2 PCA by Hotelling deflation — the 2-D embedding
# map (diversity binning, drift plots, cluster sanity). The pc2 power
# iteration runs on the cloud with pc1 projected out; every deflation term
# is a quantized scalar or an O(dim) driver correction, so the chained-CTE
# oracle replays both fits bit-for-bit (see similarity._power_rounds).
# ---------------------------------------------------------------------------


def q_v_pca2(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "embeddings")
    return similarity.pca_top2(e, iterations=8)


def _pca2_sql(iterations: int = 8, dim: int = 64) -> str:
    chain = lambda a, b: _pca_chain(a, b, dim)  # noqa: E731
    parts = _pca1_parts(iterations, dim)
    parts[-1] += ","
    w0_list = ", ".join(["0.125"] * dim)
    parts.append(
        f"v0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS nrm, [{w0_list}] AS w),"
    )
    for k in range(1, iterations + 1):
        sv_cols = ", ".join(
            f"sum(s*v[{i}]) AS sv{i}" for i in range(1, dim + 1)
        )
        u_cols = ", ".join(
            f"round((a.sv{i} - m.m[{i}]*a.ss) - a.su*f.w[{i}] + 1e-13, 8) AS u{i}"
            for i in range(1, dim + 1)
        )
        o_cols = ", ".join(
            f"round(a.u{i} - a.d*f.w[{i}] + 1e-13, 8) AS u{i}"
            for i in range(1, dim + 1)
        )
        u_fwd = ", ".join(f"a.u{i} AS u{i}" for i in range(1, dim + 1))
        w_list = ", ".join(
            f"round(u{i} / nrm + 1e-13, 10)" for i in range(1, dim + 1)
        )
        parts.append(
            f"""c2_{k} AS MATERIALIZED (
  SELECT round({chain('f.w', 'w.w')} + 1e-13, 10) AS c1
  FROM wf f CROSS JOIN v{k - 1} w
),
t2_{k} AS (
  SELECT v,
         round({chain('v', 'w.w')} - {chain('m.m', 'w.w')} + 1e-13, 10) AS t,
         round({chain('v', 'f.w')} - {chain('m.m', 'f.w')} + 1e-13, 10) AS u1
  FROM e CROSS JOIN v{k - 1} w CROSS JOIN wf f CROSS JOIN mu m
),
s2_{k} AS (
  SELECT v, u1, round(t - u1*c.c1 + 1e-13, 10) AS s
  FROM t2_{k} CROSS JOIN c2_{k} c
),
a2_{k} AS MATERIALIZED (
  SELECT count(*) AS n, sum(s) AS ss, sum(s*u1) AS su, {sv_cols} FROM s2_{k}
),
u2_{k} AS MATERIALIZED (
  SELECT a.n AS n, {u_cols} FROM a2_{k} a CROSS JOIN mu m CROSS JOIN wf f
),
d2_{k} AS MATERIALIZED (
  SELECT a.n AS n, round({_pca_chain_mixed('a.u', 'f.w', dim)} + 1e-13, 10) AS d, {u_fwd}
  FROM u2_{k} a CROSS JOIN wf f
),
o2_{k} AS MATERIALIZED (
  SELECT a.n AS n, {o_cols} FROM d2_{k} a CROSS JOIN wf f
),
n2_{k} AS MATERIALIZED (
  SELECT n, round(sqrt({_pca_chain_cols('u', dim)}) + 1e-13, 10) AS nrm, * FROM o2_{k}
),
v{k} AS MATERIALIZED (
  SELECT n, nrm, [{w_list}] AS w FROM n2_{k}
),"""
        )
    parts.append(_pca_sign_cte(f"v{iterations}", "vf", dim))
    parts[-1] += f"""
SELECT e.vec_id,
       round({chain('e.v', 'f.w')} - {chain('m.m', 'f.w')} + 1e-9, 6) AS pc1,
       round({chain('e.v', 'g.w')} - {chain('m.m', 'g.w')} + 1e-9, 6) AS pc2,
       round(f.nrm / f.n + 1e-9, 6) AS pc1_var,
       round(g.nrm / g.n + 1e-9, 6) AS pc2_var
FROM e CROSS JOIN wf f CROSS JOIN vf g CROSS JOIN mu m"""
    return "\n".join(parts)


_REGISTRY.update({"inv_v_pca2": (q_v_pca2, _pca2_sql())})


# ---------------------------------------------------------------------------
# Round 8 (continued): RAKE keyword extraction — the fourth keyword lens
# beside frequency (top_ngrams), discrimination (tfidf), and centrality
# (textrank), and the only one that surfaces MULTI-WORD terms without a
# parser. Phrase segmentation is a per-doc running stopword count; all
# downstream aggregations are word/phrase-keyed with map-side combine.
# ---------------------------------------------------------------------------


def q_t_rake(spark: SparkSession, sf: str) -> DataFrame:
    return text.rake_keywords(_docs(spark, sf), k=30, max_len=4)


def _rake_sql(k: int = 30, max_len: int = 4) -> str:
    sw = ", ".join(f"'{s}'" for s in text.STOPWORDS)
    return f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
rt AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
ridx AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t), 0) + 1)) AS i FROM rt
),
rtok AS (
  SELECT doc_id, CAST(i AS INT) AS pos, t[i] AS w FROM ridx WHERE t[i] <> ''
),
rseg AS (
  SELECT doc_id, pos, w, w IN ({sw}) AS stop,
         sum(CASE WHEN w IN ({sw}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS seg
  FROM rtok
),
rphr AS (
  SELECT doc_id, seg,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen,
         list(w ORDER BY pos) AS words
  FROM rseg WHERE NOT stop
  GROUP BY doc_id, seg
  HAVING count(*) <= {max_len}
),
rws AS (
  SELECT w,
         round(CAST(sum(plen) AS BIGINT) / CAST(count(*) AS DOUBLE) + 1e-9, 6) AS wscore
  FROM (SELECT unnest(words) AS w, plen FROM rphr)
  GROUP BY w
),
rps AS (
  SELECT p.doc_id, p.seg, p.phrase, round(sum(s.wscore) + 1e-9, 6) AS pscore
  FROM (SELECT doc_id, seg, phrase, unnest(words) AS w FROM rphr) p
  JOIN rws s ON s.w = p.w
  GROUP BY 1, 2, 3
)
SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences, max(pscore) AS score
FROM rps GROUP BY phrase ORDER BY score DESC, phrase LIMIT {k}
"""


_REGISTRY.update({"inv_t_rake": (q_t_rake, _rake_sql())})


# ---------------------------------------------------------------------------
# Round 8 (continued): Markov stationary distribution over the event-type
# chain — the long-run equilibrium complement to event_transitions (one
# step) and top_paths (pattern mining). The corpus pays one user-windowed
# lead pass; the chain itself is a bounded MODEL (O(|types|²)), so the π
# power iteration runs driver-side on the collected matrix with 10-dp
# in-loop quantization (the pagerank discipline at model scale).
# ---------------------------------------------------------------------------


def q_e_markov_stationary(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import behavior

    return behavior.markov_stationary(spark, sf, iterations=8)


def _markov_sql(iterations: int = 8) -> str:
    steps = []
    prev = "mpi0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""mpi{i} AS MATERIALIZED (
  SELECT m.to_type AS s, round(sum(q.pi * m.p) + 1e-13, 10) AS pi
  FROM mpm m JOIN {prev} q ON q.s = m.from_type GROUP BY m.to_type)"""
        )
        prev = f"mpi{i}"
    return f"""
WITH mseq AS (
  SELECT user_id, event_type, ts, event_id,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
mtr AS (
  SELECT event_type AS from_type, next_type AS to_type, CAST(count(*) AS BIGINT) AS n
  FROM mseq WHERE next_type IS NOT NULL GROUP BY 1, 2
),
msrc0 AS (SELECT DISTINCT from_type AS t FROM mtr),
mkept AS (SELECT * FROM mtr WHERE to_type IN (SELECT t FROM msrc0)),
-- states = sources that KEEP >=1 edge (a source whose every target is
-- terminal-only drops out, mirroring the operator's pmat-derived set)
msrc AS (SELECT DISTINCT from_type AS t FROM mkept),
mtot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM mkept GROUP BY 1),
mpm AS (
  SELECT k.from_type, k.to_type,
         round(CAST(k.n AS DOUBLE) / t.tot + 1e-13, 10) AS p
  FROM mkept k JOIN mtot t USING (from_type)
),
mpi0 AS (
  SELECT t AS s, round(1.0 / (SELECT count(*) FROM msrc) + 1e-13, 10) AS pi
  FROM msrc
),
{','.join(steps)}
SELECT c.t AS event_type,
       coalesce(f.pi, 0.0) AS stationary_prob,
       t.tot AS n_out
FROM msrc c
LEFT JOIN {prev} f ON f.s = c.t
JOIN mtot t ON t.from_type = c.t
"""


_REGISTRY.update({"inv_e_markov_stationary": (q_e_markov_stationary, _markov_sql())})


# ---------------------------------------------------------------------------
# Round 8 (continued): out-of-fold target encoding — the leakage-safe
# categorical encoder (Micci-Barreca 2001) every tabular training pipeline
# ships: a row's category encodes as the OTHER folds' target mean in that
# category, shrunk toward the global prior. Two bounded aggregations + one
# broadcast join back; the corpus is touched once.
# ---------------------------------------------------------------------------


def q_x_target_encode(spark: SparkSession, sf: str) -> DataFrame:
    from market_data_pipeline_spark.operators import features

    d = _docs(spark, sf).select("doc_id", "lang", "n_chars")
    return features.target_encode(
        d, "lang", "n_chars", key="doc_id", k=5, smoothing=20.0
    )


SQL_X_TARGET_ENCODE = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         (doc_id * 2246822519) % 5 AS fold
  FROM documents
),
g AS (
  SELECT round(CAST(sum(n_chars) AS DOUBLE) / count(*) + 1e-13, 10) AS g FROM d
),
c AS (
  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sc,
         CAST(count(*) AS BIGINT) AS cc
  FROM d GROUP BY lang
),
cf AS (
  SELECT lang, fold, CAST(sum(n_chars) AS BIGINT) AS sf,
         CAST(count(*) AS BIGINT) AS cfn
  FROM d GROUP BY lang, fold
)
SELECT d.doc_id, d.lang AS cat, d.fold,
       round(((c.sc - cf.sf) + 20.0 * g.g)
             / ((c.cc - cf.cfn) + 20.0) + 1e-9, 6) AS te
FROM d
JOIN cf ON cf.lang = d.lang AND cf.fold = d.fold
JOIN c ON c.lang = d.lang
CROSS JOIN g
"""


_REGISTRY.update({"inv_x_target_encode": (q_x_target_encode, SQL_X_TARGET_ENCODE)})


# ---------------------------------------------------------------------------
# Round 8 (continued): streaming binned-quantile store — the VALUE-
# distribution member of the exactly-once sketch-store family (CMS =
# frequency, HLL = cardinality, histogram = quantiles). Equi-width counts
# are a linear sketch, so the stream's final store equals the one-shot
# batch histogram exactly; any quantile reads O(bins) rows with no rescan,
# and the estimate is graded against the exact percentile with the
# 2-bin-width tolerance the construction guarantees.
# ---------------------------------------------------------------------------

_HIST_BINS = 256
_HIST_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def q_st_quantile_bins(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from market_data_pipeline_spark.sources import tablefmt as tf

    tag = os.path.basename(os.path.normpath(sf)) or "sf"
    # fixed per-sf path, rmtree'd here — see q_d_incremental_versioned
    base = os.path.join(tempfile.gettempdir(), f"mdp_sthist_{tag}")
    shutil.rmtree(base, ignore_errors=True)  # deterministic rebuild
    e = load_table(spark, sf, "events")
    b = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).first()
    lo, hi = float(b["lo"]), float(b["hi"])
    ev = streaming_jobs.stream_events(spark, sf)
    q = streaming_jobs.streaming_histogram_maintenance(
        ev.select("value"),
        f"{base}/store",
        f"{base}/ckpt",
        value_col="value",
        lo=lo,
        hi=hi,
        bins=_HIST_BINS,
    )
    q.awaitTermination()
    counters = tf.read(spark, f"{base}/store")
    est = streaming_jobs.histogram_quantiles(
        counters, lo, hi, _HIST_BINS, qs=_HIST_QS
    )
    exact_row = e.agg(
        *[
            F.round(F.expr(f"percentile(value, {q_!r})") + F.lit(1e-9), 6).alias(
                f"ex{i}"
            )
            for i, q_ in enumerate(_HIST_QS)
        ]
    )
    exact = exact_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q_)).alias("q"),
                        F.col(f"ex{i}").alias("exact_value"),
                    )
                    for i, q_ in enumerate(_HIST_QS)
                ]
            )
        ).alias("s")
    ).select("s.q", "s.exact_value")
    w = (hi - lo) / _HIST_BINS
    return (
        est.join(exact, "q")
        .select(
            "q",
            F.col("est").alias("est_value"),
            "exact_value",
            (F.abs(F.col("est") - F.col("exact_value")) <= F.lit(2 * w)).alias(
                "within_tol"
            ),
        )
    )


def _st_quantile_sql(bins: int = _HIST_BINS) -> str:
    exacts = " UNION ALL ".join(
        f"SELECT CAST({q!r} AS DOUBLE) AS q, "
        f"round((SELECT quantile_cont(value, {q!r}) FROM events) + 1e-9, 6) AS exact_value"
        for q in _HIST_QS
    )
    return f"""
WITH hb AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
hh AS (
  SELECT least(greatest(CAST(floor((value - hb.lo) / ((hb.hi - hb.lo) / {bins})) AS BIGINT), 0), {bins - 1}) AS bin,
         count(*) AS cnt
  FROM events, hb WHERE value IS NOT NULL GROUP BY 1
),
hcum AS (
  SELECT bin, sum(cnt) OVER (ORDER BY bin
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hh
),
hn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hh),
hq AS (SELECT CAST(unnest([{', '.join(repr(q) for q in _HIST_QS)}]) AS DOUBLE) AS q),
hpick AS (
  SELECT q, min(bin) AS bin
  FROM hq, hn, hcum WHERE cum >= ceil(q * hn.n)
  GROUP BY q
),
hest AS (
  SELECT p.q,
         round(hb.lo + p.bin * ((hb.hi - hb.lo) / {bins}) + 1e-9, 6) AS est_value
  FROM hpick p CROSS JOIN hb
),
hex AS ({exacts})
SELECT e.q, e.est_value, x.exact_value,
       abs(e.est_value - x.exact_value) <= 2 * ((hb.hi - hb.lo) / {bins}) AS within_tol
FROM hest e JOIN hex x USING (q) CROSS JOIN hb
"""


_REGISTRY.update({"inv_st_quantile_bins": (q_st_quantile_bins, _st_quantile_sql())})


# ---------------------------------------------------------------------------
# Round 8 (continued): Hurst exponent by rescaled-range analysis — the
# long-memory regime diagnostic (H≈0.5 random walk, >0.5 persistent, <0.5
# mean-reverting) the indicator chain lacked. Chunked R/S over the
# first-difference series at three window sizes; H = a constant-weighted
# sum of ln RS(n) (fixed design -> fixed OLS weights, no per-symbol
# regression machinery).
# ---------------------------------------------------------------------------

_HURST_SIZES = (4, 8, 16)


def q_w_hurst(spark: SparkSession, sf: str) -> DataFrame:
    b = _bars(spark, sf).select("symbol", "d", "close")
    return indicators.hurst_exponent(b, sizes=_HURST_SIZES)


def _hurst_sql(sizes: tuple = _HURST_SIZES) -> str:
    import math

    lns = [math.log(n) for n in sizes]
    mean_ln = sum(lns) / len(lns)
    denom = sum((v - mean_ln) ** 2 for v in lns)
    coef = [(v - mean_ln) / denom for v in lns]
    slope = " + ".join(f"{coef[i]!r} * y{i}" for i in range(len(sizes)))
    pivots = ",\n         ".join(
        f"max(CASE WHEN n = {n} THEN y END) AS y{i}" for i, n in enumerate(sizes)
    )
    return f"""
WITH {BARS_SQL},
hx0 AS (
  SELECT symbol, d,
         close - lag(close) OVER (PARTITION BY symbol ORDER BY d) AS x
  FROM bars
),
hx AS (
  SELECT symbol, x, row_number() OVER (PARTITION BY symbol ORDER BY d) AS rn
  FROM hx0 WHERE x IS NOT NULL
),
hm AS (SELECT symbol, CAST(count(*) AS BIGINT) AS m FROM hx GROUP BY symbol),
hch AS (
  SELECT h.symbol, h.x, h.rn, s.n,
         CAST(floor((h.rn - 1) / s.n) AS BIGINT) AS chunk
  FROM hx h
  JOIN hm ON hm.symbol = h.symbol
  CROSS JOIN (SELECT unnest([{', '.join(str(n) for n in sizes)}]) AS n) s
  WHERE floor((h.rn - 1) / s.n) < floor(hm.m / s.n)
),
hst AS (
  SELECT symbol, n, chunk, x,
         round(avg(x) OVER (PARTITION BY symbol, n, chunk) + 1e-13, 10) AS mean,
         sum(x) OVER (PARTITION BY symbol, n, chunk ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         row_number() OVER (PARTITION BY symbol, n, chunk ORDER BY rn) AS k
  FROM hch
),
hz AS (
  SELECT symbol, n, chunk, x, mean, cum - k * mean AS z FROM hst
),
hrs AS (
  SELECT symbol, n, chunk, max(z) - min(z) AS r,
         round(sqrt(sum((x - mean) * (x - mean)) / n) + 1e-13, 10) AS s
  FROM hz GROUP BY symbol, n, chunk
),
hrs2 AS (
  SELECT symbol, n, round(r / s + 1e-9, 8) AS rs FROM hrs WHERE s > 0
),
hrsn AS (
  SELECT symbol, n, round(avg(rs) + 1e-9, 8) AS rsn
  FROM hrs2 GROUP BY symbol, n
),
hy AS (
  SELECT symbol, n, round(ln(rsn) + 1e-13, 10) AS y FROM hrsn WHERE rsn > 0
),
hp AS (
  SELECT symbol, count(*) AS k,
         {pivots}
  FROM hy GROUP BY symbol
)
SELECT symbol, round({slope} + 1e-9, 6) AS hurst
FROM hp WHERE k = {len(sizes)}
"""


_REGISTRY.update({"inv_w_hurst": (q_w_hurst, _hurst_sql())})


# ---------------------------------------------------------------------------
# Round 8 (continued): Gopher-style repetition signals — the within-doc
# repetition filters (Rae et al. 2021 §A1.1) that catch the template-farm
# failure mode a length-normal, vocabulary-normal document passes every
# other cheap gate with. All doc-keyed n-gram counts; nothing corpus-global.
# Registered under its OWN name: the round-2 inv_t_repetition (token-level
# dup-bigram fraction + top TOKEN share, add_repetition_stats) stays as-is;
# this entry adds the n-gram SLOT-share members of the Gopher set.
# ---------------------------------------------------------------------------


def q_t_gopher_repetition(spark: SparkSession, sf: str) -> DataFrame:
    return text.repetition_signals(_docs(spark, sf))


SQL_T_GOPHER_REPETITION = f"""
WITH n AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
tk AS (
  SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS t FROM n
),
base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM tk),
rb2 AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
         i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM base
),
rb3 AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
         i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM base
),
rg2 AS (
  SELECT doc_id, max(c) AS max2, CAST(sum(c) AS BIGINT) AS tot2
  FROM (SELECT doc_id, g, count(*) AS c FROM rb2 GROUP BY 1, 2)
  GROUP BY doc_id
),
rg3 AS (
  SELECT doc_id, max(c) AS max3, CAST(sum(c) AS BIGINT) AS tot3,
         CAST(count(*) AS BIGINT) AS dist3
  FROM (SELECT doc_id, g, count(*) AS c FROM rb3 GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CASE WHEN coalesce(g2.tot2, 0) > 0
            THEN round(CAST(g2.max2 AS DOUBLE) / g2.tot2 + 1e-9, 6)
            ELSE 0.0 END AS top_bigram_share,
       CASE WHEN coalesce(g3.tot3, 0) > 0
            THEN round(CAST(g3.max3 AS DOUBLE) / g3.tot3 + 1e-9, 6)
            ELSE 0.0 END AS top_trigram_share,
       CASE WHEN coalesce(g3.tot3, 0) > 0
            THEN round(1.0 - CAST(g3.dist3 AS DOUBLE) / g3.tot3 + 1e-9, 6)
            ELSE 0.0 END AS dup_trigram_frac
FROM base b
LEFT JOIN rg2 g2 USING (doc_id)
LEFT JOIN rg3 g3 USING (doc_id)
"""


_REGISTRY.update(
    {"inv_t_gopher_repetition": (q_t_gopher_repetition, SQL_T_GOPHER_REPETITION)}
)


# ---------------------------------------------------------------------------
# Registry integrity pin. _REGISTRY.update() is a plain dict update, so a
# re-used name silently REPLACES an existing query — exactly the r8 slip
# where the new Gopher entry briefly clobbered the round-2
# inv_t_repetition (caught only because the registry count stayed flat).
# Pin the expected size at the bottom of the file: every added query bumps
# it by one, and a collision trips this assert at import instead of
# surfacing rounds later as vanished driver history.
# ---------------------------------------------------------------------------

_EXPECTED_REGISTRY_SIZE = 298
assert len(_REGISTRY) == _EXPECTED_REGISTRY_SIZE, (
    f"registry has {len(_REGISTRY)} entries, expected "
    f"{_EXPECTED_REGISTRY_SIZE}: a name collision swallowed a query "
    "(or bump the pin along with the new registration)"
)
