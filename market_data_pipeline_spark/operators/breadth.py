"""Market-breadth analytics: daily advance/decline derivation, health score,
regime bucketing, cross-series correlation, gainers/losers.

Reference parity: /root/reference/src/extractors/breadth_extractor.py +
src/analyzers/breadth_analyzer.py. The reference *fetches* breadth
pre-aggregated; this engine derives it from the bar table with a groupBy(date)
— the honest 100 TB shape (SURVEY.md §2.1 S9): partial aggregation map-side,
one shuffle on date, tiny output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.functions.helpers import clip, safe_div, series_window


def derive_breadth(bars: DataFrame, date_col: str = "d") -> DataFrame:
    """A1 — advancers/decliners/unchanged + derived ratios per day
    (breadth_extractor.py:162-178, data_cleaner.py:115-141).

    breadth_percent = (adv−dec)/total×100 clipped ±100 (÷0 → null);
    adv_dec_ratio = adv/dec with ÷0 → 0.
    """
    w = series_window(time_col=date_col)
    delta = F.col("close") - F.lag("close", 1).over(w)
    daily = bars.withColumn("__delta", delta)
    agg = daily.groupBy(date_col).agg(
        F.sum(F.when(F.col("__delta") > 0, 1).otherwise(0)).alias("advancers"),
        F.sum(F.when(F.col("__delta") < 0, 1).otherwise(0)).alias("decliners"),
        F.sum(F.when(F.col("__delta") == 0, 1).otherwise(0)).alias("unchanged"),
        F.sum(F.when(F.col("close") >= F.col("high"), 1).otherwise(0)).alias("new_highs"),
        F.sum(F.when(F.col("close") <= F.col("low"), 1).otherwise(0)).alias("new_lows"),
    )
    total = F.col("advancers") + F.col("decliners") + F.col("unchanged")
    return (
        agg.withColumn("total_issues", total)
        .withColumn(
            "breadth_percent",
            clip(
                safe_div((F.col("advancers") - F.col("decliners")) * 100.0, total),
                -100.0,
                100.0,
            ),
        )
        .withColumn(
            "adv_dec_ratio",
            F.round(safe_div(F.col("advancers").cast("double"), F.col("decliners"), zero_as=0.0), 4),
        )
    )


def market_health(breadth: DataFrame, lookback: int = 20, date_col: str = "d") -> DataFrame:
    """A2 — market health over the trailing ``lookback`` days
    (breadth_analyzer.py:18-46): avg breadth_percent, Σadv/Σdec, Σnh/Σnl.
    ``date_col`` is unique per breadth row, so the tail is a top-``lookback``
    pick, not a single-partition window."""
    tail = breadth.orderBy(F.col(date_col).desc()).limit(lookback)
    agg = tail.agg(
        F.round(F.avg("breadth_percent"), 4).alias("avg_breadth"),
        F.round(safe_div(F.sum("advancers").cast("double"), F.sum("decliners")), 4).alias("adv_dec"),
        F.round(safe_div(F.sum("new_highs").cast("double"), F.sum("new_lows")), 4).alias("nh_nl"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return agg.withColumn(
        "health",
        F.when(F.col("avg_breadth") > 10, "healthy")
        .when(F.col("avg_breadth") < -10, "weak")
        .otherwise("mixed"),
    )


def market_regime(breadth: DataFrame, date_col: str = "d") -> DataFrame:
    """W19 — regime bucketing on the latest breadth row
    (breadth_analyzer.py:48-71): breadth_percent → 5 buckets. ``date_col``
    is unique per breadth row, so the latest row is a top-1 pick."""
    latest = breadth.filter(F.col("breadth_percent").isNotNull()).orderBy(F.col(date_col).desc()).limit(1)
    bp = F.col("breadth_percent")
    return latest.withColumn(
        "regime",
        F.when(bp >= 70, "strong_bullish")
        .when(bp >= 40, "bullish")
        .when(bp >= 20, "neutral")
        .when(bp >= 0, "bearish")
        .otherwise("strong_bearish"),
    )


def series_correlation(bars: DataFrame, sym_a, sym_b, window: int = 20, date_col: str = "d") -> DataFrame:
    """J1 + W16 — align two symbols' closes on date (inner equi-join,
    breadth_analyzer.py:104-109) and compute the rolling correlation
    (:113). Both sides are slices of one table; Catalyst plans the self-join,
    and at scale the date-aligned slices broadcast if one symbol is small."""
    a = bars.filter(F.col("symbol") == sym_a).select(date_col, F.col("close").alias("close_1"))
    b = bars.filter(F.col("symbol") == sym_b).select(date_col, F.col("close").alias("close_2"))
    j = a.join(b, date_col, "inner")
    w = Window.orderBy(date_col).rowsBetween(-(window - 1), 0)
    return j.withColumn(
        "rolling_corr",
        F.when(
            F.count(F.lit(1)).over(w) >= window,
            F.round(F.corr("close_1", "close_2").over(w), 4),
        ),
    )


def market_summary(bars: DataFrame, breadth: DataFrame, date_col: str = "d") -> DataFrame:
    """W20 — one-row market summary (breadth_analyzer.py:116-145): latest
    breadth row, counts of symbols above their MA20/MA50, and
    sentiment = 50 + (breadth_percent − 50)/2 clipped [0, 100].

    Two tiny 1-row frames cross-joined at the end; everything upstream is the
    shared symbol-window stage + a groupBy — no driver-side collection.
    """
    w = series_window(time_col=date_col)
    ma20 = F.when(
        F.count("close").over(w.rowsBetween(-19, 0)) >= 20,
        F.avg("close").over(w.rowsBetween(-19, 0)),
    )
    ma50 = F.when(
        F.count("close").over(w.rowsBetween(-49, 0)) >= 50,
        F.avg("close").over(w.rowsBetween(-49, 0)),
    )
    enriched = bars.withColumn("__ma20", ma20).withColumn("__ma50", ma50)
    latest = (
        enriched.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("symbol").orderBy(F.col(date_col).desc())
            ),
        )
        .filter(F.col("__rn") == 1)
    )
    counts = latest.agg(
        F.count(F.lit(1)).alias("total_symbols"),
        F.sum(F.when(F.col("close") > F.col("__ma20"), 1).otherwise(0)).alias("n_above_ma20"),
        F.sum(F.when(F.col("close") > F.col("__ma50"), 1).otherwise(0)).alias("n_above_ma50"),
    )
    bw = Window.orderBy(F.col(date_col).desc())
    latest_breadth = (
        breadth.filter(F.col("breadth_percent").isNotNull())
        .withColumn("__rn", F.row_number().over(bw))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(date_col),
            F.round("breadth_percent", 4).alias("breadth_percent"),
            F.round(
                F.least(
                    F.greatest(
                        F.lit(50.0) + (F.col("breadth_percent") - 50.0) / 2.0,
                        F.lit(0.0),
                    ),
                    F.lit(100.0),
                ),
                4,
            ).alias("sentiment"),
        )
    )
    return latest_breadth.crossJoin(counts)


def correlation_matrix(
    bars: DataFrame, top_n: int = 10, date_col: str = "d"
) -> DataFrame:
    """Pairwise return-correlation matrix over the ``top_n`` most-traded
    symbols — fills the reference's declared extension surface
    /root/reference/src/analyzers/correlation_analyzer.py (0-byte placeholder).

    Scale design: the O(n²) pair explosion is capped by the top-N selection
    (a tiny broadcast list), the self-join is date-aligned on that subset
    only, and corr() is one shuffle-agg per pair. For all-pairs at scale,
    raise top_n and let AQE size the shuffle.
    """
    top = (
        bars.groupBy("symbol")
        .agg(F.sum("volume").alias("__v"))
        .orderBy(F.col("__v").desc(), F.col("symbol"))
        .limit(top_n)
        .select("symbol")
    )
    w = series_window(time_col=date_col)
    rets = (
        bars.join(F.broadcast(top), "symbol", "left_semi")
        .withColumn("ret", safe_div(F.col("close"), F.lag("close", 1).over(w)) - 1)
        .filter(F.col("ret").isNotNull())
        .select("symbol", date_col, "ret")
    )
    a = rets.select(F.col("symbol").alias("sym_a"), F.col(date_col).alias("__d"), F.col("ret").alias("ret_a"))
    b = rets.select(F.col("symbol").alias("sym_b"), F.col(date_col).alias("__d"), F.col("ret").alias("ret_b"))
    return (
        a.join(b, "__d")
        .filter(F.col("sym_a") < F.col("sym_b"))
        .groupBy("sym_a", "sym_b")
        .agg(
            F.round(F.corr("ret_a", "ret_b"), 4).alias("corr"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


def top_movers(bars: DataFrame, on_date=None, n: int = 5, date_col: str = "d") -> DataFrame:
    """O5 — top/bottom-N by daily return (breadth_analyzer.py:139-140), with a
    deterministic symbol tiebreak so top-k is stable under distribution."""
    w = series_window(time_col=date_col)
    ret = bars.withColumn(
        "daily_ret", F.round(safe_div(F.col("close"), F.lag("close", 1).over(w)) - 1, 6)
    ).filter(F.col("daily_ret").isNotNull())
    if on_date is not None:
        ret = ret.filter(F.col(date_col) == F.lit(on_date))
    gain_w = Window.partitionBy(date_col).orderBy(F.col("daily_ret").desc(), F.col("symbol"))
    lose_w = Window.partitionBy(date_col).orderBy(F.col("daily_ret").asc(), F.col("symbol"))
    return (
        ret.withColumn("gain_rank", F.row_number().over(gain_w))
        .withColumn("lose_rank", F.row_number().over(lose_w))
        .filter((F.col("gain_rank") <= n) | (F.col("lose_rank") <= n))
        .withColumn("side", F.when(F.col("gain_rank") <= n, "top").otherwise("bottom"))
        .select(date_col, "symbol", "daily_ret", "side")
    )


def rolling_beta(
    bars: DataFrame,
    window: int = 60,
    date_col: str = "d",
    close_col: str = "close",
) -> DataFrame:
    """Rolling market beta per symbol: β = cov(rᵢ, r_m) / var(r_m) over the
    trailing ``window`` bars, where r_m is the equal-weight mean daily
    return across symbols. Systematic-risk companion to W16's pairwise
    correlation (absent from the reference's suite).

    Scale shape: per-symbol returns ride the chain's symbol exchange; the
    market series is a groupBy(date) whose output is O(days) — broadcast
    back onto the bars. covar_pop/var_pop are native window aggregates on
    both engines, so the oracle is the same SQL.
    """
    w = series_window(time_col=date_col)
    r = F.col(close_col) / F.lag(close_col, 1).over(w) - 1.0
    rets = bars.withColumn("r", r)
    market = rets.groupBy(date_col).agg(F.avg("r").alias("r_m"))
    joined = rets.join(F.broadcast(market), date_col)
    wr = w.rowsBetween(-(window - 1), 0)
    beta = F.when(
        F.count("r").over(wr) >= window,
        safe_div(F.covar_pop("r", "r_m").over(wr), F.var_pop("r_m").over(wr)),
    )
    return joined.withColumn("beta", beta)
