"""Technical indicators over a long (symbol, time, close, ...) series.

Reference parity: /root/reference/src/transformers/technical_indicators.py —
eight chained per-symbol pandas passes (SMA, EMA, RSI, MACD, Bollinger, ATR,
volume, momentum; /root/reference/src/pipeline.py:296-306). Here each is a
native indicator that declares its columns as dependency levels (``Levels``)
of window expressions over ONE shared ``Window.partitionBy(symbol).orderBy(time)``, and
:func:`chain` adds a whole stack of them with one ``withColumns`` per level.
The physical plan has one shuffle on the symbol however many indicators
stack, and one ``Window`` operator per level that holds a window
expression: the daily update's seven indicators are three levels and two
``Window`` operators (the third level is plain arithmetic).

Every rolling op carries pandas' ``min_periods=N`` null-prefix semantics via
``min_periods`` (SURVEY.md §7.3). EMA/MACD are the one genuinely non-native
pair (recursive ewm) — Arrow-vectorized ``applyInPandas`` per symbol, which at
scale is an embarrassingly-parallel per-key pass with no extra shuffle beyond
the one the chain already pays.

Per-key depth bound (the fold family — CUSUM/Holt/Kalman below — plus the
Arrow EMA groups): these materialize ONE key's entire ordered series in a
single task (a ``collect_list`` array for the ``F.aggregate`` folds, an
Arrow batch for ``applyInPandas``), so per-key memory is O(series length),
not O(corpus). SCALECHECK's deep-key replica measures 100× per-key depth
(30 → 3 000 bars/symbol) at 2.4–4.6× cost — comfortably sub-linear — and
the shape stays safe to roughly 10⁶–10⁷ elements per key (tens of MB per
task). Million-row-plus keys (tick-level multi-year series) should be
pre-bucketed by calendar range and the recursion carried across buckets
(the state is O(1) per fold), not fed through one array.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from market_data_pipeline_spark.functions.helpers import (
    clip,
    cumprod1p_minus1,
    min_periods,
    rolling,
    safe_div,
    series_window,
)


Levels = list[dict[str, Column]]
"""An indicator's columns as dependency levels: each ``{name: Column}`` may
read the input's columns and the columns of the levels before it. Names
starting with ``__`` are temporaries that :func:`chain` drops."""


def chain(df: DataFrame, *indicators: Levels) -> DataFrame:
    """Add every indicator's columns to ``df`` with one ``withColumns`` per
    dependency level, then at most one ``select``.

    The result equals applying the indicators one after another, each as a
    run of ``withColumn`` calls and a drop of its temporaries: same columns,
    values, types and order, a column of ``df`` that an indicator writes
    replaced in place. Level k of every indicator goes into the k-th
    ``withColumns``, so window expressions over one shared spec plan as one
    ``Window`` operator per level instead of one per ``withColumn``, and
    the plan is analyzed once per level.

    A level that reads a column an earlier indicator writes goes after the
    level that writes it; a level that writes a column an earlier indicator
    reads goes no earlier than that read. What a level reads is found by
    name in its expressions' text: a false match only moves the level
    later. Two indicators that write the same name raise ``ValueError``.
    """
    names = [n for levels in indicators for level in levels for n in level]
    dups = sorted({n for n in names if names.count(n) > 1})
    if dups:
        raise ValueError(f"indicators write the same columns: {dups}")
    written = set(names)
    mention = re.compile(r"(?<![\w.])(" + "|".join(map(re.escape, written)) + r")(?!\w)")
    merged: list[dict[str, Column]] = []
    at: dict[str, int] = {}  # name -> level that writes it
    read_at: dict[str, int] = {}  # name -> last level that reads the old column
    for levels in indicators:
        k = 0
        for level in levels:
            reads = {m for c in level.values() for m in mention.findall(str(c))}
            k = max([k] + [at[n] + 1 for n in reads if n in at] + [read_at.get(n, 0) for n in level])
            for n in reads - at.keys():
                read_at[n] = max(read_at.get(n, 0), k)
            while len(merged) <= k:
                merged.append({})
            merged[k].update(level)
            at.update(dict.fromkeys(level, k))
            k += 1
    temps = {n for n in written if n.startswith("__")}
    order = [c for c in df.columns if c not in temps]
    order += [n for n in names if n not in temps and n not in order]
    for level in merged:
        if level:
            df = df.withColumns(level)
    return df if df.columns == order else df.select(*order)


def sma(periods=(10, 20, 50, 200), col="close", w: WindowSpec | None = None) -> Levels:
    """W1 — simple moving averages (technical_indicators.py:17-42)."""
    w = w or series_window()
    return [{f"ma_{p}": min_periods(F.avg(col), F.col(col), w, p) for p in periods}]


def add_sma(df: DataFrame, periods=(10, 20, 50, 200), col="close", w: WindowSpec | None = None) -> DataFrame:
    """:func:`sma` on ``df``."""
    return chain(df, sma(periods, col, w))


def rsi(period: int = 14, col="close", w: WindowSpec | None = None) -> Levels:
    """W3 — RSI(14) + signal label (technical_indicators.py:62-81).

    delta = diff; gain = clip(delta, 0, ∞); loss = −clip(delta, −∞, 0);
    rsi = 100 − 100/(1+avg_gain/avg_loss); ÷0 → null;
    label: >70 overbought, <30 oversold, else neutral.
    """
    w = w or series_window()
    delta = F.col("__delta")
    # greatest() skips nulls (→ 0); pandas clip keeps NaN NaN, so guard
    # explicitly to preserve the reference's mean-over-13-values head rows.
    gain = F.when(delta.isNotNull(), F.greatest(delta, F.lit(0.0)))
    loss = F.when(delta.isNotNull(), F.greatest(-delta, F.lit(0.0)))
    rs = safe_div(min_periods(F.avg(gain), delta, w, period), min_periods(F.avg(loss), delta, w, period))
    r = F.col("rsi")
    return [
        {"__delta": F.col(col) - F.lag(col, 1).over(w)},
        {"rsi": F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + rs)},
        {"rsi_signal": F.when(r > 70, "overbought").when(r < 30, "oversold").otherwise("neutral")},
    ]


def add_rsi(df: DataFrame, period: int = 14, col="close", w: WindowSpec | None = None) -> DataFrame:
    """:func:`rsi` on ``df``."""
    return chain(df, rsi(period, col, w))


def bollinger(period: int = 20, num_std: float = 2.0, col="close", w: WindowSpec | None = None) -> Levels:
    """W5 — Bollinger bands (technical_indicators.py:104-134)."""
    w = w or series_window()
    mid, sd = F.col("bb_middle"), F.col("__bb_sd")
    upper, lower = F.col("bb_upper"), F.col("bb_lower")
    return [
        {
            "bb_middle": min_periods(F.avg(col), F.col(col), w, period),
            "__bb_sd": min_periods(F.stddev_samp(col), F.col(col), w, period),
        },
        {"bb_upper": mid + num_std * sd, "bb_lower": mid - num_std * sd},
        {
            "bb_width": safe_div(upper - lower, mid),
            "bb_position": clip(safe_div(F.col(col) - lower, upper - lower), 0.0, 1.0),
        },
    ]


def add_bollinger(df: DataFrame, period: int = 20, num_std: float = 2.0, col="close", w: WindowSpec | None = None) -> DataFrame:
    """:func:`bollinger` on ``df``."""
    return chain(df, bollinger(period, num_std, col, w))


def atr(period: int = 20, w: WindowSpec | None = None) -> Levels:
    """W6 — ATR + volatility ratio (technical_indicators.py:136-158).

    Needs high/low/close columns (daily bars). TR is the join-free 3-way max
    (J5): greatest(h−l, |h−prev_c|, |l−prev_c|).
    """
    w = w or series_window(time_col="d")
    prev_c = F.lag("close", 1).over(w)
    tr = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - prev_c),
        F.abs(F.col("low") - prev_c),
    )
    return [
        {"__tr": tr},
        {
            "atr": min_periods(F.avg(F.col("__tr")), F.col("__tr"), w, period),
            "close_std": min_periods(F.stddev_samp("close"), F.col("close"), w, period),
        },
        {"volatility_ratio": safe_div(F.col("atr"), F.col("close"))},
    ]


def add_atr(df: DataFrame, period: int = 20, w: WindowSpec | None = None) -> DataFrame:
    """:func:`atr` on ``df``."""
    return chain(df, atr(period, w))


def volume_metrics(vol_col="volume", close_col="close", w: WindowSpec | None = None) -> Levels:
    """W7 — volume SMAs, ratio, OBV, volume-price trend
    (technical_indicators.py:160-173). OBV = running Σ sign(Δclose)·volume."""
    w = w or series_window(time_col="d")
    wall = w.rowsBetween(Window.unboundedPreceding, 0)
    delta = F.col(close_col) - F.lag(close_col, 1).over(w)
    return [
        {
            "vol_sma_10": min_periods(F.avg(vol_col), F.col(vol_col), w, 10),
            "vol_sma_20": min_periods(F.avg(vol_col), F.col(vol_col), w, 20),
            "__dir": F.when(delta.isNull(), F.lit(0.0)).otherwise(F.signum(delta)),
        },
        {
            "volume_ratio": safe_div(F.col(vol_col), F.col("vol_sma_20")),
            "obv": F.sum(F.col("__dir") * F.col(vol_col)).over(wall),
            "volume_price_trend": F.col(vol_col) * delta,
        },
    ]


def add_volume_metrics(df: DataFrame, vol_col="volume", close_col="close", w: WindowSpec | None = None) -> DataFrame:
    """:func:`volume_metrics` on ``df``."""
    return chain(df, volume_metrics(vol_col, close_col, w))


def add_vwap(
    df: DataFrame,
    period: int = 20,
    w: WindowSpec | None = None,
    high_col="high",
    low_col="low",
    close_col="close",
    vol_col="volume",
) -> DataFrame:
    """VWAP — volume-weighted average price over the typical price
    (high+low+close)/3: cumulative per symbol, plus a rolling ``period``-bar
    variant with the min_periods guard. Standard market metric absent from
    the reference's W-suite (its suite stops at OBV/VPT,
    technical_indicators.py:160-173); pure window sums, same single
    symbol-partitioned exchange as the rest of the chain.
    """
    w = w or series_window(time_col="d")
    wall = w.rowsBetween(Window.unboundedPreceding, 0)
    wroll = w.rowsBetween(-(period - 1), 0)
    tp = (F.col(high_col) + F.col(low_col) + F.col(close_col)) / 3.0
    df = df.withColumn("__tpv", tp * F.col(vol_col))
    df = df.withColumn(
        "vwap_cum", safe_div(F.sum("__tpv").over(wall), F.sum(vol_col).over(wall))
    ).withColumn(
        f"vwap_{period}",
        F.when(
            F.count(vol_col).over(wroll) >= period,
            safe_div(F.sum("__tpv").over(wroll), F.sum(vol_col).over(wroll)),
        ),
    )
    return df.drop("__tpv")


def add_stochastic(
    df: DataFrame,
    k_period: int = 14,
    d_period: int = 3,
    w: WindowSpec | None = None,
    high_col="high",
    low_col="low",
    close_col="close",
) -> DataFrame:
    """Stochastic oscillator — %K = 100·(close − minₖ(low)) / (maxₖ(high) −
    minₖ(low)), %D = SMA_d(%K); min_periods guards on both stages. Classic
    companion to the reference's W11 rolling min/max support-resistance
    (technical_indicators.py:199-219), absent from its suite; same single
    symbol-partitioned window exchange.
    """
    w = w or series_window(time_col="d")
    wk = w.rowsBetween(-(k_period - 1), 0)
    lo = F.min(low_col).over(wk)
    hi = F.max(high_col).over(wk)
    k = F.when(
        F.count(close_col).over(wk) >= k_period,
        100.0 * safe_div(F.col(close_col) - lo, hi - lo),
    )
    df = df.withColumn("stoch_k", k)
    wd = w.rowsBetween(-(d_period - 1), 0)
    df = df.withColumn(
        "stoch_d",
        F.when(
            F.count("stoch_k").over(wd) >= d_period, F.avg("stoch_k").over(wd)
        ),
    )
    return df


def add_drawdown(df: DataFrame, col="close", w: WindowSpec | None = None) -> DataFrame:
    """Drawdown from the running peak: dd = close / cummax(close) − 1 (≤ 0),
    plus the running max drawdown (cummin of dd). Classic risk metric
    absent from the reference's suite; two cumulative window expressions on
    the chain's shared symbol exchange.
    """
    w = w or series_window(time_col="d")
    wall = w.rowsBetween(Window.unboundedPreceding, 0)
    peak = F.max(col).over(wall)
    df = df.withColumn("drawdown", safe_div(F.col(col), peak) - 1.0)
    return df.withColumn("max_drawdown", F.min("drawdown").over(wall))


def returns_momentum(col="close", w: WindowSpec | None = None, horizons=(21, 63, 126)) -> Levels:
    """W8 — returns, cumulative return, momentum (technical_indicators.py:175-197).

    cumulative_return uses the exact log-space cumprod rewrite (helper);
    momentum_k = close/close.shift(k) − 1, null when the series is shorter.
    """
    w = w or series_window()
    prev = F.lag(col, 1).over(w)
    names = {21: "momentum_1m", 63: "momentum_3m", 126: "momentum_6m"}
    later = {
        "cumulative_return": cumprod1p_minus1(F.coalesce(F.col("daily_return_pct"), F.lit(0.0)), w),
    }
    for k in horizons:
        later[names.get(k, f"momentum_{k}")] = safe_div(F.col(col), F.lag(col, k).over(w)) - 1
    return [
        {"daily_return_pct": safe_div(F.col(col), prev) - 1, "daily_return_abs": F.col(col) - prev},
        later,
    ]


def add_returns_momentum(df: DataFrame, col="close", w: WindowSpec | None = None, horizons=(21, 63, 126)) -> DataFrame:
    """:func:`returns_momentum` on ``df``."""
    return chain(df, returns_momentum(col, w, horizons))


def add_ytd_momentum(df: DataFrame, current_year: int, col="close", symbol_col="symbol", time_col="time") -> DataFrame:
    """W9 — YTD momentum (technical_indicators.py:198, 212-233).

    close / first_close_of_current_year − 1; null for rows outside the year.
    ``current_year`` is a parameter, not wall-clock, so results are
    deterministic (SURVEY.md §7.3).
    """
    wy = Window.partitionBy(symbol_col, F.year(time_col)).orderBy(time_col)
    first_close = F.first(col).over(wy)
    return df.withColumn(
        "momentum_ytd",
        F.when(
            F.year(time_col) == current_year, safe_div(F.col(col), first_close) - 1
        ),
    )


def dist_ma(periods=(10, 20, 50, 200), col="close") -> Levels:
    """W10 — distance to each moving average (technical_indicators.py:199-202)."""
    return [{f"dist_ma_{p}": safe_div(F.col(col) - F.col(f"ma_{p}"), F.col(f"ma_{p}")) for p in periods}]


def add_dist_ma(df: DataFrame, periods=(10, 20, 50, 200), col="close") -> DataFrame:
    """:func:`dist_ma` on ``df``."""
    return chain(df, dist_ma(periods, col))


def add_support_resistance(df: DataFrame, lookback: int = 10, w: WindowSpec | None = None) -> DataFrame:
    """W11 — rolling support/resistance levels (technical_screener.py:50-70)."""
    w = w or series_window(time_col="d")
    df = df.withColumn(
        "resistance", min_periods(F.max("high"), F.col("high"), w, lookback)
    )
    df = df.withColumn("support", min_periods(F.min("low"), F.col("low"), w, lookback))
    return df


# ---------------------------------------------------------------------------
# EMA / MACD — the one genuinely custom operator (SURVEY.md §7.2).
# ---------------------------------------------------------------------------

def add_ema_macd(
    df: DataFrame,
    spans=(12, 26),
    macd: tuple[int, int, int] = (12, 26, 9),
    col: str = "close",
    symbol_col: str = "symbol",
    time_col: str = "time",
    buckets: int | None = None,
) -> DataFrame:
    """W2/W4 — EMA(span, adjust=False, min_periods=span) and MACD(12,26,9).

    pandas semantics (technical_indicators.py:44-60, 83-102): EMA_t =
    α·c_t + (1−α)·EMA_{t−1}, α = 2/(span+1), seeded with the first value and
    nulled until ``span`` observations. The recursion has no Spark window
    aggregate, so this is the one Arrow/pandas operator in the chain.

    Scale design: per-symbol ``applyInPandas`` pays ~10 ms of pandas overhead
    PER GROUP — at 1500 symbols that is 15 s of serial Python for milliseconds
    of math. Instead symbols are hash-bucketed (whole symbol ↦ one bucket, so
    series never split) and each call processes a whole bucket with Cython
    ``groupby().ewm()`` — per-call overhead is amortized over
    ~n_symbols/buckets series. One shuffle on the bucket key; bucket count
    bounds peak pandas memory per task (bucket ≈ data_size/buckets) and
    xxhash64 spreads symbols evenly, so no skew.

    ``buckets=None`` (default) derives ``max(64, defaultParallelism)`` from
    the live session so the stage never caps below the cluster's parallelism
    — a fixed 64 would ceiling this stage at 64 tasks on a 1000-executor
    cluster (round-1 verdict #2). Pass an explicit count to pin it.
    """
    if buckets is None:
        buckets = max(64, df.sparkSession.sparkContext.defaultParallelism)
    fast, slow, signal = macd
    out_fields = df.schema.fields
    schema_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields]
    for s in spans:
        schema_parts.append(f"ema_{s} double")
    schema_parts += ["macd double", "macd_signal double", "macd_hist double"]
    out_schema = ", ".join(schema_parts)

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([symbol_col, time_col], kind="mergesort").reset_index(drop=True)
        g = pdf.groupby(symbol_col, sort=False)
        for s in spans:
            pdf[f"ema_{s}"] = (
                g[col].ewm(span=s, adjust=False, min_periods=s).mean().to_numpy()
            )
        ema_fast = g[col].ewm(span=fast, adjust=False, min_periods=fast).mean().to_numpy()
        ema_slow = g[col].ewm(span=slow, adjust=False, min_periods=slow).mean().to_numpy()
        pdf["macd"] = ema_fast - ema_slow
        pdf["macd_signal"] = (
            pdf.groupby(symbol_col, sort=False)["macd"]
            .ewm(span=signal, adjust=False, min_periods=signal)
            .mean()
            .to_numpy()
        )
        pdf["macd_hist"] = pdf["macd"] - pdf["macd_signal"]
        return pdf.drop(columns="__bucket")

    bucketed = df.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(symbol_col)), F.lit(buckets))
    )
    return bucketed.groupBy("__bucket").applyInPandas(per_bucket, schema=out_schema)


def add_rsi_wilder(
    df: DataFrame,
    period: int = 14,
    col: str = "close",
    symbol_col: str = "symbol",
    time_col: str = "time",
    buckets: int | None = None,
    out_col: str = "rsi_wilder",
) -> DataFrame:
    """W3 variant — Wilder-smoothed RSI, the ewm-recursive sibling SURVEY
    §7.2 flags next to EMA ("RSI-Wilder variants if added").

    Cutler RSI (add_rsi) uses simple rolling means of gains/losses; Wilder's
    original uses the recursive smoothing ``avg_t = α·x_t + (1−α)·avg_{t−1}``
    with α = 1/period — i.e. pandas ``ewm(alpha=1/period, adjust=False,
    min_periods=period)`` over the clipped deltas (the first delta is NaN
    and is skipped, so the first gain seeds the recursion). avg_loss = 0 →
    RSI pinned at 100 (Wilder's convention).

    Same physical shape as :func:`add_ema_macd`: one shuffle on a
    symbol-hash bucket key (``max(64, defaultParallelism)`` buckets), one
    Arrow pass with Cython groupby-ewm inside — the recursion has no native
    window expression.
    """
    if buckets is None:
        buckets = max(64, df.sparkSession.sparkContext.defaultParallelism)
    alpha = 1.0 / period
    out_fields = df.schema.fields
    schema_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields]
    schema_parts.append(f"`{out_col}` double")
    out_schema = ", ".join(schema_parts)

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values([symbol_col, time_col], kind="mergesort").reset_index(drop=True)
        delta = pdf.groupby(symbol_col, sort=False)[col].diff()
        pdf["__g"] = delta.clip(lower=0.0)
        pdf["__l"] = (-delta).clip(lower=0.0)
        g = (
            pdf.groupby(symbol_col, sort=False)["__g"]
            .ewm(alpha=alpha, adjust=False, min_periods=period)
            .mean()
            .to_numpy()
        )
        l = (
            pdf.groupby(symbol_col, sort=False)["__l"]
            .ewm(alpha=alpha, adjust=False, min_periods=period)
            .mean()
            .to_numpy()
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            rsi = np.where(l == 0.0, 100.0, 100.0 - 100.0 / (1.0 + g / l))
        rsi = np.where(np.isnan(g) | np.isnan(l), np.nan, rsi)
        pdf[out_col] = rsi
        return pdf.drop(columns=["__bucket", "__g", "__l"])

    bucketed = df.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(symbol_col)), F.lit(buckets))
    )
    return bucketed.groupBy("__bucket").applyInPandas(per_bucket, schema=out_schema)


def add_adjusted_close(
    df: DataFrame,
    actions: DataFrame,
    close_col: str = "close",
    factor_col: str = "factor",
    symbol_col: str = "symbol",
    time_col: str = "d",
    out_col: str = "adj_close",
) -> DataFrame:
    """Backward corporate-action (split/dividend) price adjustment:
    ``adj_t = close_t · ∏ factor_s`` over every action strictly AFTER t —
    the industry convention that keeps the latest price unadjusted and
    rescales history so returns are continuous across splits.

    ``actions`` is (symbol, time, factor), factor > 0 (0.5 = 2:1 split).
    Multiple actions on one (symbol, time) — a split plus a special
    dividend on the same ex-date — are pre-multiplied BEFORE the join
    (``F.product`` per key), so bar rows never fan out. Plan: one tiny
    pre-agg + one LEFT broadcast join (the action table is
    O(symbols·events), tiny next to bars) + ONE symbol window. The running
    product is the ``exp(sum(ln(factor)))`` rewrite of cumprod (SURVEY
    §7.2) over ``rowsBetween(1, unboundedFollowing)`` — sparse-safe because
    non-action days join factor 1.0 (ln → 0), and the empty tail frame
    coalesces to a factor of exactly 1.

    Reference analog: none — vnstock feeds pre-adjusted prices; this is the
    operator you need the day you ingest raw exchange prints at 100 TB.
    """
    per_day = actions.groupBy(symbol_col, time_col).agg(
        F.product(factor_col).alias(factor_col)
    )
    f = F.coalesce(F.col(factor_col), F.lit(1.0))
    joined = df.join(
        F.broadcast(per_day),
        on=[symbol_col, time_col],
        how="left",
    ).withColumn("__synth", F.lit(False))
    # Actions whose ex-date has NO bar row (halt, holiday, data gap — or an
    # action after the final bar) would vanish from an exact-equality join
    # and leave all prior history unadjusted. Union those action dates in as
    # synthetic rows so their factor enters the tail window, then drop them:
    # bars strictly before the ex-date pick the factor up, the first bar
    # at-or-after it stays unadjusted (ex-date prints are already
    # post-action), and nothing fans out.
    orphan = per_day.join(
        df.select(symbol_col, time_col), on=[symbol_col, time_col], how="anti"
    )
    synth = orphan.select(
        *[
            F.lit(None).cast(dict(df.dtypes)[c]).alias(c)
            if c not in (symbol_col, time_col)
            else F.col(c)
            for c in df.columns
        ],
        F.col(factor_col),
        F.lit(True).alias("__synth"),
    )
    unioned = joined.select(synth.columns).unionByName(synth)
    w = (
        Window.partitionBy(symbol_col)
        .orderBy(time_col)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    cum = F.exp(F.coalesce(F.sum(F.log(f)).over(w), F.lit(0.0)))
    return (
        unioned.withColumn(out_col, F.col(close_col) * cum)
        .filter(~F.col("__synth"))
        .drop(factor_col, "__synth")
    )


def return_autocorrelation(
    df: DataFrame,
    lags: tuple[int, ...] = (1, 2, 3, 5, 10),
    symbol_col: str = "symbol",
    time_col: str = "time",
    close_col: str = "close",
) -> DataFrame:
    """Per-symbol autocorrelation of daily returns at the given lags —
    the momentum/mean-reversion diagnostic (significantly negative lag-1
    ACF ⇒ reverting series; positive ⇒ trending): (symbol, lag, acf,
    n_obs).

    One window pass builds the return and all its lagged copies in the
    same symbol-keyed sort (single exchange), then ONE groupBy(symbol)
    computes corr(ret, ret_lag_k) for every k as sibling aggregates —
    never a per-lag re-scan, never a self-join. Output is
    O(symbols · lags); corr ignores null pairs on both engines, so the
    k leading rows each lag loses drop out consistently.
    """
    from pyspark.sql import Window as _W

    w = _W.partitionBy(symbol_col).orderBy(time_col)
    ret = F.col(close_col) / F.lag(close_col, 1).over(w) - 1
    base = df.withColumn("__r", ret)
    for k in lags:
        base = base.withColumn(f"__r{k}", F.lag("__r", k).over(w))
    aggs = []
    for k in lags:
        aggs.append(F.corr("__r", f"__r{k}").alias(f"acf_{k}"))
        aggs.append(
            F.count(F.when(F.col("__r").isNotNull() & F.col(f"__r{k}").isNotNull(), 1)).alias(
                f"n_{k}"
            )
        )
    wide = base.groupBy(symbol_col).agg(*aggs)
    arms = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                F.col(f"acf_{k}").alias("acf"),
                F.col(f"n_{k}").alias("n_obs"),
            )
            for k in lags
        ]
    )
    return wide.select(symbol_col, F.explode(arms).alias("__a")).select(
        symbol_col,
        F.col("__a.lag").alias("lag"),
        F.round(F.col("__a.acf") + F.lit(1e-9), 6).alias("acf"),
        F.col("__a.n_obs").alias("n_obs"),
    )


def information_coefficient(
    df: DataFrame,
    signal_lag: int = 5,
    symbol_col: str = "symbol",
    time_col: str = "time",
    close_col: str = "close",
) -> DataFrame:
    """Daily cross-sectional information coefficient: Spearman rank
    correlation, per time step, between a momentum signal
    (``signal_lag``-bar return known at t) and the NEXT bar's return —
    the standard "does this signal predict returns" factor diagnostic:
    (time, ic, n_symbols).

    Two window families, each one exchange: symbol-keyed lag/lead build
    the signal and the forward return; time-keyed rank() turns both into
    cross-sectional ranks (ties get SQL-standard rank on both engines —
    deterministic, mirrored in the oracle); then one groupBy(time)
    Pearson-of-ranks = Spearman. Output is O(time steps) at any symbol
    count, and nothing ever sorts the full panel globally.
    """
    from pyspark.sql import Window as _W

    ws = _W.partitionBy(symbol_col).orderBy(time_col)
    sig = F.col(close_col) / F.lag(close_col, signal_lag).over(ws) - 1
    fwd = F.lead(close_col, 1).over(ws) / F.col(close_col) - 1
    both = (
        df.withColumn("__sig", sig)
        .withColumn("__fwd", fwd)
        .filter(F.col("__sig").isNotNull() & F.col("__fwd").isNotNull())
    )
    wt_sig = _W.partitionBy(time_col).orderBy("__sig", symbol_col)
    wt_fwd = _W.partitionBy(time_col).orderBy("__fwd", symbol_col)
    ranked = both.withColumn("__rs", F.rank().over(wt_sig).cast("double")).withColumn(
        "__rf", F.rank().over(wt_fwd).cast("double")
    )
    return (
        ranked.groupBy(time_col)
        .agg(
            F.round(F.corr("__rs", "__rf") + F.lit(1e-9), 6).alias("ic"),
            F.count(F.lit(1)).alias("n_symbols"),
        )
    )


def twap_daily(series: DataFrame, time_col: str = "time", price_col: str = "close") -> DataFrame:
    """Time-weighted average price per (symbol, day) over IRREGULAR ticks:
    each tick's price is weighted by the seconds until the next tick that
    day (the last tick of the day carries zero weight; falls back to the
    plain mean when a day has a single tick / zero span).

    VWAP's sibling for feeds without volume. One window exchange on symbol
    (lead) + one (symbol, day) agg — same two-shuffle shape as the bar
    derivation, and the agg reuses the window's partitioning.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("symbol", F.to_date(time_col)).orderBy(time_col)
    gap = (
        F.unix_timestamp(F.lead(time_col).over(w)) - F.unix_timestamp(F.col(time_col))
    ).cast("double")
    weighted = series.withColumn("__gap", F.coalesce(gap, F.lit(0.0)))
    return (
        weighted.groupBy("symbol", F.to_date(time_col).alias("d"))
        .agg(
            F.round(
                F.when(
                    F.sum("__gap") > 0,
                    F.sum(F.col(price_col) * F.col("__gap")) / F.sum("__gap"),
                ).otherwise(F.avg(price_col)),
                6,
            ).alias("twap"),
            F.round(F.avg(price_col), 6).alias("simple_avg"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


def add_rolling_median(
    df: DataFrame,
    period: int = 21,
    col: str = "close",
    w: WindowSpec | None = None,
    out_col: str | None = None,
    approx: bool = False,
) -> DataFrame:
    """Rolling median — the robust midline SMA can't give (one flash-crash
    tick drags a mean for ``period`` bars; the median shrugs it off).

    Spark has no native windowed percentile, so the frame's values are
    gathered with ``collect_list`` over the rolling frame and sorted
    per-row: O(period log period) per row, fine for indicator-scale
    windows (tens of bars). ``period`` is kept ODD so the median is an
    element, not an interpolation — exact across engines. min_periods
    semantics: null until the frame is full, like every other indicator
    here.

    HARD CEILING (round-1 verdict #5): the exact path materializes
    ``period`` values per row, so period > 501 raises — pass
    ``approx=True`` to switch to ``percentile_approx`` over the same frame
    (bounded-memory KLL-style sketch per frame, mergeable, the only shape
    that survives thousand-bar windows at 100 TB).
    """
    if period % 2 == 0:
        raise ValueError("period must be odd so the median is exact")
    if period > 501 and not approx:
        raise ValueError(
            f"period={period} > 501: exact rolling median holds O(period) "
            "values per row; pass approx=True (percentile_approx sketch) "
            "for wide windows"
        )
    w = w or series_window()
    frame = w.rowsBetween(-(period - 1), 0)
    out_col = out_col or f"median_{period}"
    if approx:
        est = F.percentile_approx(F.col(col), 0.5, 10000).over(frame)
    else:
        sorted_vals = F.array_sort(F.collect_list(F.col(col)).over(frame))
        est = F.element_at(sorted_vals, (period + 1) // 2)
    return df.withColumn(
        out_col,
        F.when(F.count(F.col(col)).over(frame) == period, est),
    )


def add_obv(
    df: DataFrame,
    close_col: str = "close",
    vol_col: str = "volume",
    w: WindowSpec | None = None,
) -> DataFrame:
    """On-balance volume: running sum of signed volume — +v on an up
    close, −v on a down close, 0 when flat or on the first bar. One
    symbol-partitioned window chain (lag + cumulative sum), no joins.
    OBV is the classic volume-confirmation signal: price moves backed by
    volume build the line, moves without volume do not."""
    w = w or series_window(time_col="d")
    prev = F.lag(close_col).over(w)
    signed = (
        F.when(prev.isNull() | (F.col(close_col) == prev), F.lit(0.0))
        .when(F.col(close_col) > prev, F.col(vol_col))
        .otherwise(-F.col(vol_col))
    )
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("obv", F.round(F.sum(signed).over(cum) + F.lit(1e-9), 4))


def add_mfi(
    df: DataFrame,
    period: int = 14,
    w: WindowSpec | None = None,
) -> DataFrame:
    """Money Flow Index: volume-weighted RSI over the typical price
    (h+l+c)/3. Raw money flow tp·v splits positive/negative by tp vs its
    lag; MFI = 100·pos/(pos+neg) over the trailing ``period`` bars (null
    until a full window and when pos+neg is zero). Same single
    symbol-window chain as the RSI family."""
    w = w or series_window(time_col="d")
    tp = (F.col("high") + F.col("low") + F.col("close")) / 3
    out = df.withColumn("__tp", tp).withColumn(
        "__tp_prev", F.lag("__tp").over(w)
    )
    flow = F.col("__tp") * F.col("volume")
    pos = F.when(F.col("__tp") > F.col("__tp_prev"), flow).otherwise(F.lit(0.0))
    neg = F.when(F.col("__tp") < F.col("__tp_prev"), flow).otherwise(F.lit(0.0))
    frame = w.rowsBetween(-(period - 1), 0)
    out = (
        out.withColumn("__pos", F.sum(pos).over(frame))
        .withColumn("__neg", F.sum(neg).over(frame))
        .withColumn("__n", F.count("__tp_prev").over(frame))
    )
    mfi = F.when(
        (F.col("__n") >= period) & (F.col("__pos") + F.col("__neg") > 0),
        F.lit(100.0) * F.col("__pos") / (F.col("__pos") + F.col("__neg")),
    )
    return out.withColumn("mfi", F.round(mfi + F.lit(1e-9), 6)).drop(
        "__tp", "__tp_prev", "__pos", "__neg", "__n"
    )


def liquidity_metrics(
    df: DataFrame,
    symbol_col: str = "symbol",
    time_col: str = "d",
    close_col: str = "close",
    volume_col: str = "volume",
) -> DataFrame:
    """Per-symbol liquidity microstructure metrics in ONE pass:

    - ``amihud_illiq`` — Amihud (2002) illiquidity: mean of
      |daily return| / dollar volume, ×10⁶ for readable units. The
      standard price-impact proxy a screening pipeline ranks tradability
      by.
    - ``kyle_lambda`` — Kyle (1985) lambda estimated as the OLS slope of
      return on signed volume (sign of the same-day return), ×10⁹: how
      much price moves per unit of net order flow.

    Shape: one per-symbol lag window for returns (the same exchange every
    indicator chain shares), then one keyed aggregate — covar/var are
    map-side combinable, so this is scan-bound at any scale. First day
    (no return) and zero-dollar-volume days are excluded from both
    estimators; symbols with fewer than 3 usable days or zero
    signed-volume variance emit NULL lambda rather than a division
    artifact."""
    w = series_window(symbol_col=symbol_col, time_col=time_col)
    out = df.withColumn(
        "__ret", F.col(close_col) / F.lag(close_col).over(w) - 1
    ).filter(F.col("__ret").isNotNull())
    out = (
        out.withColumn("__dv", F.col(close_col) * F.col(volume_col))
        .filter(F.col("__dv") > 0)
        .withColumn("__sv", F.signum("__ret") * F.col(volume_col))
    )
    agg = out.groupBy(symbol_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.avg(F.abs(F.col("__ret")) / F.col("__dv") * F.lit(1e6)) + F.lit(1e-9),
            6,
        ).alias("amihud_illiq"),
        # NULLIF-style guard: double ÷ 0.0 is Infinity in Spark, not NULL —
        # a zero-variance signed-volume series must yield NULL lambda
        (
            F.covar_samp("__ret", "__sv")
            / F.when(F.var_samp("__sv") != 0, F.var_samp("__sv"))
        ).alias("__lam"),
    )
    # 2dp, not 6: lambda ×1e9 reaches 1e8 magnitude at a year of history,
    # where cross-engine co-moment summation noise (~1e-6 absolute) sits
    # ABOVE the 6dp grid — found by the sf0.1 oracle sweep; 2dp leaves a
    # 5000× margin and sub-cent precision on that scale is meaningless
    lam = F.when(
        (F.col("n_days") >= 3) & F.col("__lam").isNotNull(),
        F.round(F.col("__lam") * F.lit(1e9) + F.lit(1e-9), 2),
    )
    return agg.select(
        symbol_col, "n_days", "amihud_illiq", lam.alias("kyle_lambda")
    )


def holt_forecast(
    df: DataFrame,
    alpha: float = 0.2,
    beta: float = 0.1,
    horizon: int = 5,
    col: str = "close",
    symbol_col: str = "symbol",
    time_col: str = "d",
) -> DataFrame:
    """Holt double exponential smoothing per symbol, with an h-step linear
    forecast: level_t = α·y_t + (1−α)(level_{t−1} + trend_{t−1}),
    trend_t = β(level_t − level_{t−1}) + (1−β)trend_{t−1}, initialized
    level_1 = y_1, trend_1 = y_2 − y_1 (Hyndman & Athanasopoulos §7.2);
    forecast_{n+h} = level_n + h·trend_n. The EMA recursion's forecasting
    twin — but implemented WITHOUT the Arrow hop: the per-symbol series
    folds through ``F.aggregate`` over a collected struct array, so the
    whole recursion runs inside codegen.

    Determinism: both state components are quantized to 10 decimals at
    every step (the pagerank/k-means in-loop discipline), so the iterate
    depends only on quantized values — a recursive-CTE oracle inlining
    the identical expression tree reproduces the fold bit-for-bit.

    Scale shape: one map-side-combined groupBy(symbol); each series is
    calendar-bounded (days per symbol), so the collected array is small
    by construction — this is per-KEY state, never corpus-sized. Symbols
    with fewer than 2 observations have no defined initial trend and are
    excluded (mirrored in the oracle).
    """
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(time_col).alias("t"), F.col(col).alias("y")))
    )
    series = (
        df.groupBy(symbol_col).agg(arr.alias("__arr")).filter(F.size("__arr") >= 2)
    )
    eps = F.lit(1e-13)
    y1 = F.col("__arr")[0]["y"]
    y2 = F.col("__arr")[1]["y"]
    init = F.struct(
        F.round(y1 + eps, 10).alias("l"),
        F.round((y2 - y1) + eps, 10).alias("b"),
    )
    rest = F.slice(
        F.col("__arr"), 2, F.greatest(F.size("__arr") - 1, F.lit(0))
    )
    a, b_ = float(alpha), float(beta)
    one_a, one_b = 1.0 - a, 1.0 - b_

    def step(acc, e):
        new_l = F.round(
            F.lit(a) * e["y"] + F.lit(one_a) * (acc["l"] + acc["b"]) + eps, 10
        )
        # new_l inlined twice (no let-binding in expressions); the oracle
        # inlines the identical tree, so both engines evaluate it twice
        new_b = F.round(
            F.lit(b_)
            * (
                F.round(
                    F.lit(a) * e["y"] + F.lit(one_a) * (acc["l"] + acc["b"]) + eps,
                    10,
                )
                - acc["l"]
            )
            + F.lit(one_b) * acc["b"]
            + eps,
            10,
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    state = F.aggregate("__rest", init, step)
    out = series.withColumn("__rest", rest).select(
        F.col(symbol_col),
        F.size("__arr").cast("long").alias("n_obs"),
        state.alias("__st"),
    )
    return out.select(
        symbol_col,
        "n_obs",
        F.col("__st")["l"].alias("level"),
        F.col("__st")["b"].alias("trend"),
        F.round(
            F.col("__st")["l"] + F.lit(float(horizon)) * F.col("__st")["b"] + F.lit(1e-9),
            6,
        ).alias("forecast"),
    )


def kalman_level(
    df: DataFrame,
    q: float = 0.0625,
    r: float = 1.0,
    col: str = "close",
    symbol_col: str = "symbol",
    time_col: str = "d",
) -> DataFrame:
    """1-D local-level Kalman filter per symbol (Kalman 1960; the
    random-walk-plus-noise state-space model, Durbin & Koopman §2):
    predict P⁻ = P + Q; gain K = P⁻/(P⁻ + R); update
    x = x + K·(z − x), P = (1−K)·P⁻. The adaptive smoother the EMA
    family approximates with a FIXED weight — here the weight (gain)
    converges from observation noise, so early observations correct
    faster. Output per symbol: final filtered level, converged gain, and
    innovation RMSE (the model-fit diagnostic — a series the random-walk
    model fits poorly shows inflated innovations).

    Same execution contract as ``holt_forecast``/``cusum_alarms``: the
    ordered series folds through a codegen'd F.aggregate, every state
    component quantized to 10 dp per step, so a recursive-CTE oracle
    replays the recursion exactly. ``q``/``r`` default to binary-exact
    doubles. Init: x₁ = z₁, P₁ = R (the diffuse-ish convention that
    keeps the fold literal-only); symbols need ≥ 2 observations for a
    defined innovation RMSE and are filtered like holt's trend init.
    """
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(time_col).alias("t"), F.col(col).alias("y")))
    )
    series = (
        df.groupBy(symbol_col).agg(arr.alias("__arr")).filter(F.size("__arr") >= 2)
    )
    eps = F.lit(1e-13)
    ql, rl = F.lit(float(q)), F.lit(float(r))
    y1 = F.col("__arr")[0]["y"]
    init = F.struct(
        F.round(y1 + eps, 10).alias("x"),
        F.round(rl + eps, 10).alias("p"),
        F.lit(0.0).alias("k"),
        F.lit(0.0).alias("si"),
    )
    rest = F.slice(
        F.col("__arr"), 2, F.greatest(F.size("__arr") - 1, F.lit(0))
    )

    def step(acc, e):
        # pp and k are inlined everywhere they appear (no let-binding in
        # expressions); the oracle inlines the identical trees, so both
        # engines evaluate the same quantized sub-results
        pp = F.round(acc["p"] + ql + eps, 10)
        k = F.round(pp / (pp + rl) + eps, 10)
        return F.struct(
            F.round(acc["x"] + k * (e["y"] - acc["x"]) + eps, 10).alias("x"),
            F.round((F.lit(1.0) - k) * pp + eps, 10).alias("p"),
            k.alias("k"),
            F.round(
                acc["si"] + (e["y"] - acc["x"]) * (e["y"] - acc["x"]) + eps, 10
            ).alias("si"),
        )

    state = F.aggregate("__rest", init, step)
    out = series.withColumn("__rest", rest).select(
        F.col(symbol_col),
        F.size("__arr").cast("long").alias("n_obs"),
        state.alias("__st"),
    )
    return out.select(
        symbol_col,
        "n_obs",
        F.col("__st")["x"].alias("kf_level"),
        F.col("__st")["k"].alias("kf_gain"),
        F.round(
            F.sqrt(F.col("__st")["si"] / (F.col("n_obs") - 1)) + F.lit(1e-9), 6
        ).alias("innov_rmse"),
    )


def cusum_alarms(
    df: DataFrame,
    k: float = 0.5,
    h: float = 4.0,
    col: str = "close",
    symbol_col: str = "symbol",
    time_col: str = "d",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Two-sided CUSUM change-point detection per symbol (Page 1954): on
    standardized values z_t = (x_t − mean)/std, accumulate
    S⁺_t = max(0, S⁺_{t−1} + z_t − k) and S⁻_t = max(0, S⁻_{t−1} − z_t − k);
    an alarm fires when either side crosses ``h`` and that side resets to
    0 (the standard restart protocol). Output: per-symbol alarm counts in
    each direction — the sequential drift detector batch z-scores miss
    (many small same-sign shifts never cross a pointwise threshold but
    accumulate here).

    Same execution shape as ``holt_forecast``: the ordered series folds
    through a codegen'd F.aggregate with in-fold 10 dp quantization, so a
    recursive-CTE oracle replays the recursion exactly. The
    standardization constants are per-symbol aggregates quantized to 6 dp
    on both engines BEFORE the fold (raw stddev differs across engines in
    the last ulp; quantized inputs make the fold engine-exact). ``k`` and
    ``h`` default to binary-exact doubles so the literals can't drift.

    ``tiebreak_col``: deterministic tie order for series whose time key is
    not unique per symbol (event data with duplicate timestamps). Without
    it the struct sort breaks equal-``time_col`` ties by VALUE, while a
    stream replay processes them in arrival-id order — pass the id column
    (e.g. ``event_id``) so the fold and the stream agree on every input
    (r6 ADVICE). Bar tables with unique (symbol, time) are unaffected.
    """
    key_fields = [F.col(time_col).alias("t")]
    if tiebreak_col is not None:
        key_fields.append(F.col(tiebreak_col).alias("tb"))
    arr = F.array_sort(
        F.collect_list(F.struct(*key_fields, F.col(col).alias("y")))
    )
    series = df.groupBy(symbol_col).agg(
        arr.alias("__arr"),
        F.round(F.avg(col) + F.lit(1e-9), 6).alias("__mean"),
        F.round(F.stddev_samp(col) + F.lit(1e-9), 6).alias("__std"),
    ).filter(F.col("__std") > 0)
    eps = F.lit(1e-13)
    kl, hl = F.lit(float(k)), F.lit(float(h))
    init = F.struct(
        F.lit(0.0).alias("sp"),
        F.lit(0.0).alias("sn"),
        F.lit(0).alias("up"),
        F.lit(0).alias("dn"),
    )

    def step(acc, e):
        z = (e["y"] - F.col("__mean")) / F.col("__std")
        zsp = F.round(F.greatest(F.lit(0.0), acc["sp"] + z - kl) + eps, 10)
        zsn = F.round(F.greatest(F.lit(0.0), acc["sn"] - z - kl) + eps, 10)
        return F.struct(
            F.when(zsp > hl, F.lit(0.0)).otherwise(zsp).alias("sp"),
            F.when(zsn > hl, F.lit(0.0)).otherwise(zsn).alias("sn"),
            (acc["up"] + F.when(zsp > hl, 1).otherwise(0)).alias("up"),
            (acc["dn"] + F.when(zsn > hl, 1).otherwise(0)).alias("dn"),
        )

    st = F.aggregate("__arr", init, step)
    return series.select(
        symbol_col,
        F.size("__arr").cast("long").alias("n_obs"),
        F.col("__mean").alias("mean"),
        F.col("__std").alias("std"),
        st["up"].cast("long").alias("alarms_up"),
        st["dn"].cast("long").alias("alarms_down"),
    )


def seasonal_decompose(
    df: DataFrame,
    period: int = 7,
    col: str = "close",
    symbol_col: str = "symbol",
    time_col: str = "d",
) -> DataFrame:
    """Additive seasonal decomposition (classical moving-average method,
    the STL-lite every monitoring stack runs): trend = centered
    ``period``-row moving average (full windows only), seasonal = per
    (symbol, phase) mean of the detrended series re-centered to sum ~0
    over the cycle, residual = value − trend − seasonal.

    One (symbol)-ordered window for the trend, then two tiny keyed
    aggregates for the phase effects (equal phase weighting) broadcast
    back — no corpus-global window anywhere, so the plan passes the
    no-global-window sweep and scales with keys. Phase is
    (days-since-epoch mod period): integer-exact and engine-independent,
    unlike dayofweek() whose origin differs per engine.
    """
    from pyspark.sql import Window

    half = period // 2
    w = (
        Window.partitionBy(symbol_col)
        .orderBy(time_col)
        .rowsBetween(-half, period - 1 - half)
    )
    phase = F.pmod(
        F.datediff(F.col(time_col), F.to_date(F.lit("1970-01-01"))), F.lit(period)
    )
    trend = F.when(
        F.count(col).over(w) == period, F.round(F.avg(col).over(w) + F.lit(1e-9), 6)
    )
    base = df.select(
        symbol_col, time_col, F.col(col), phase.alias("__phase"), trend.alias("trend")
    ).withColumn("__detr", F.col(col) - F.col("trend"))
    # phase effects as per-(symbol, phase) aggregates (equal phase
    # weighting — a row-weighted window recentering would skew toward
    # phases with more observations), re-centered to mean 0 per symbol
    seff = base.groupBy(symbol_col, "__phase").agg(
        F.round(F.avg("__detr") + F.lit(1e-9), 6).alias("__sraw")
    )
    cent = seff.groupBy(symbol_col).agg(
        F.round(F.avg("__sraw") + F.lit(1e-9), 6).alias("__c")
    )
    seas = seff.join(cent, symbol_col).select(
        symbol_col,
        "__phase",
        F.round(F.col("__sraw") - F.col("__c") + F.lit(1e-9), 6).alias("seasonal"),
    )
    return (
        base.join(F.broadcast(seas), [symbol_col, "__phase"])
        .filter(F.col("trend").isNotNull())
        .select(
            symbol_col,
            time_col,
            F.col(col),
            "trend",
            "seasonal",
            F.round(F.col(col) - F.col("trend") - F.col("seasonal") + F.lit(1e-9), 6).alias(
                "residual"
            ),
        )
    )


def theil_sen_trend(
    df: DataFrame,
    col: str = "close",
    symbol_col: str = "symbol",
    time_col: str = "d",
) -> DataFrame:
    """Theil–Sen robust trend per symbol: slope = median over ALL pairwise
    slopes (y_j − y_i)/(t_j − t_i), intercept = median(y − slope·t) —
    29%-breakdown regression that one fat-finger bar cannot bend, the
    robust-statistics complement to ``anomaly.mad_outliers``. Time enters
    as integer days since epoch, so every slope is a deterministic double
    ratio and the exact interpolated median matches DuckDB's
    quantile_cont.

    Pairwise cost is per-KEY quadratic and bounded by the CALENDAR
    (days²/2 per symbol — ~2.4k pairs for a 70-day series), never corpus
    size: the pair fan-out is a per-row codegen'd array expression over
    the collected series (the _ordered_pairs discipline), one shuffle on
    the symbol.
    """
    t_int = F.datediff(F.col(time_col), F.to_date(F.lit("1970-01-01")))
    arr = F.array_sort(
        F.collect_list(F.struct(t_int.alias("t"), F.col(col).alias("y")))
    )
    series = (
        df.groupBy(symbol_col)
        .agg(arr.alias("__arr"))
        .filter(F.size("__arr") >= 2)
        .localCheckpoint(eager=True)
    )
    pair = F.flatten(
        F.transform(
            "__arr",
            lambda x, i: F.transform(
                F.slice(
                    F.col("__arr"),
                    i + F.lit(2),
                    F.greatest(F.size("__arr") - i - 1, F.lit(0)),
                ),
                lambda y: ((y["y"] - x["y"]) / (y["t"] - x["t"]).cast("double")),
            ),
        )
    )
    slopes = (
        series.select(symbol_col, F.explode(pair).alias("__m"))
        .groupBy(symbol_col)
        .agg(
            F.expr("percentile(__m, 0.5)").alias("__slope"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    pts = series.select(
        symbol_col, F.size("__arr").alias("n_obs"), F.explode("__arr").alias("p")
    )
    return (
        pts.join(F.broadcast(slopes), symbol_col)
        .groupBy(symbol_col, "n_obs", "n_pairs", "__slope")
        .agg(
            F.expr("percentile(p.y - __slope * cast(p.t as double), 0.5)").alias(
                "__icpt"
            )
        )
        .select(
            symbol_col,
            F.col("n_obs").cast("long").alias("n_obs"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(F.col("__slope") + F.lit(1e-9), 6).alias("slope"),
            F.round(F.col("__icpt") + F.lit(1e-9), 6).alias("intercept"),
        )
    )


def hurst_exponent(
    bars: DataFrame,
    sizes: tuple = (4, 8, 16),
    symbol_col: str = "symbol",
    time_col: str = "d",
    close_col: str = "close",
) -> DataFrame:
    """Hurst exponent per symbol by rescaled-range (R/S) analysis
    (Hurst 1951; Mandelbrot & Wallis 1969 — public): H ≈ 0.5 for a
    random walk, > 0.5 trending/persistent, < 0.5 mean-reverting — the
    long-memory diagnostic behind regime filters and volatility-model
    choice. Per window size n: the first-difference series splits into
    ⌊M/n⌋ full chunks; each chunk's rescaled range is (max−min of the
    cumulative deviations from the chunk mean) / (population std);
    RS(n) averages the chunks; H is the OLS slope of ln RS(n) on ln n.
    With FIXED ``sizes`` the slope is a constant-weighted sum
    Σ c_i·ln RS(n_i) (the OLS weights depend only on the ln n design),
    so no per-symbol regression machinery is needed.

    Scale shape: one symbol window (lag + row_number), one explode over
    |sizes| (a small constant), then (symbol, n, chunk)-keyed window +
    aggregation passes — co-partitioned with the indicator chain's
    symbol exchange; chunk state is O(n) ≤ max(sizes). Symbols lacking
    a full largest-size chunk (or with any degenerate RS ≤ 0) drop.

    Determinism: chunk means quantize at 10 dp; cumulative deviations
    are ORDERED prefix sums (engine-identical); stds round at 10 dp,
    per-chunk R/S at 8 dp, RS(n) at 8 dp, ln at 10 dp; the final H is
    a fixed-order 3-term constant dot rounded at 6 dp — the standard
    chained-quantization contract, mirrored by the oracle."""
    import math

    from pyspark.sql import Window

    w_sym = Window.partitionBy(symbol_col).orderBy(time_col)
    x = (
        bars.select(symbol_col, time_col, close_col)
        .withColumn("__x", F.col(close_col) - F.lag(close_col).over(w_sym))
        .filter(F.col("__x").isNotNull())
        .withColumn("__rn", F.row_number().over(w_sym))
    )
    m_tot = x.groupBy(symbol_col).agg(F.count(F.lit(1)).alias("__m"))
    sz = F.explode(F.array(*[F.lit(int(n)) for n in sizes])).alias("n")
    ch = (
        x.join(m_tot, symbol_col)
        .select(symbol_col, "__x", "__rn", "__m", sz)
        .withColumn("__chunk", F.floor((F.col("__rn") - 1) / F.col("n")))
        .filter(F.col("__chunk") < F.floor(F.col("__m") / F.col("n")))
    )
    w_chunk = Window.partitionBy(symbol_col, "n", "__chunk")
    w_cum = w_chunk.orderBy("__rn")
    ch = (
        ch.withColumn(
            "__mean", F.round(F.avg("__x").over(w_chunk) + F.lit(1e-13), 10)
        )
        .withColumn(
            "__cum",
            F.sum("__x").over(w_cum.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("__k", F.row_number().over(w_cum))
        .withColumn("__z", F.col("__cum") - F.col("__k") * F.col("__mean"))
    )
    rs = (
        ch.groupBy(symbol_col, "n", "__chunk")
        .agg(
            (F.max("__z") - F.min("__z")).alias("__r"),
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("__x") - F.col("__mean"))
                        * (F.col("__x") - F.col("__mean"))
                    )
                    / F.first("n")
                )
                + F.lit(1e-13),
                10,
            ).alias("__s"),
        )
        .filter(F.col("__s") > 0)
        .select(
            symbol_col,
            "n",
            F.round(F.col("__r") / F.col("__s") + F.lit(1e-9), 8).alias("__rs"),
        )
    )
    rsn = rs.groupBy(symbol_col, "n").agg(
        F.round(F.avg("__rs") + F.lit(1e-9), 8).alias("__rsn")
    )
    y = rsn.filter(F.col("__rsn") > 0).withColumn(
        "__y", F.round(F.log("__rsn") + F.lit(1e-13), 10)
    )
    lns = [math.log(n) for n in sizes]
    mean_ln = sum(lns) / len(lns)
    denom = sum((v - mean_ln) ** 2 for v in lns)
    coef = [(v - mean_ln) / denom for v in lns]
    pv = y.groupBy(symbol_col).agg(
        F.count(F.lit(1)).alias("__k"),
        *[
            F.max(F.when(F.col("n") == int(n), F.col("__y"))).alias(f"__y{i}")
            for i, n in enumerate(sizes)
        ],
    ).filter(F.col("__k") == len(sizes))
    h = None
    for i in range(len(sizes)):
        term = F.lit(coef[i]) * F.col(f"__y{i}")
        h = term if h is None else h + term
    return pv.select(
        F.col(symbol_col),
        F.round(h + F.lit(1e-9), 6).alias("hurst"),
    )
