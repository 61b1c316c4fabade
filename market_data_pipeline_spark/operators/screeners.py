"""Screeners & signals: breakout/trend/divergence detection, the composite
signal, and the criteria-DSL predicate compiler.

Reference parity: /root/reference/src/analyzers/technical_screener.py.
The reference evaluates each screen on ONE symbol's frame inside a Python
loop; here every screen is a set-oriented plan over the long series — the
"latest row per symbol" idiom is a row_number window, and the per-symbol loop
disappears into partition parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import Window

from market_data_pipeline_spark.functions.helpers import min_periods, safe_div, series_window


def last_row_per_symbol(df: DataFrame, symbol_col="symbol", time_col="time", *tiebreak: str) -> DataFrame:
    """The reference's ``df.iloc[-1]`` per symbol
    (technical_screener.py:151-158) as a single window pass."""
    order = [F.col(time_col).desc()] + [F.col(t).desc() for t in tiebreak]
    w = Window.partitionBy(symbol_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def detect_breakout(df: DataFrame, ma_period: int = 20, vol_mult: float = 1.5, w: WindowSpec | None = None) -> DataFrame:
    """W12 — breakout scan (technical_screener.py:18-48): latest row where
    close crosses above MA while volume exceeds vol_mult × its 20-bar SMA.

    Expects ``ma_{p}`` and ``vol_sma_20`` columns (indicators upstream).
    Emits one row per symbol with a boolean ``is_breakout``.
    """
    w = w or series_window(time_col="d")
    ma = F.col(f"ma_{ma_period}")
    df = df.withColumn("__prev_close", F.lag("close", 1).over(w)).withColumn(
        "__prev_ma", F.lag(f"ma_{ma_period}", 1).over(w)
    )
    latest = last_row_per_symbol(df, time_col="d")
    return latest.withColumn(
        "is_breakout",
        (F.col("close") > ma)
        & (F.col("__prev_close") <= F.col("__prev_ma"))
        & (F.col("volume") > vol_mult * F.col("vol_sma_20")),
    ).drop("__prev_close", "__prev_ma")


def check_trend(df: DataFrame, w: WindowSpec | None = None, fast: str = "ma_50", slow: str = "ma_200") -> DataFrame:
    """W13 — trend check (technical_screener.py:72-104): MA50/MA200 ordering +
    one-step slopes; monotone last-3 highs/lows; confidence = clip(|Σslopes|,0,1).

    ``fast``/``slow`` parameterize the MA pair so short test series (30 bars)
    can exercise the same logic with ma_10/ma_20."""
    w = w or series_window(time_col="d")
    slope50 = F.col(fast) - F.lag(fast, 1).over(w)
    slope200 = F.col(slow) - F.lag(slow, 1).over(w)
    hi_mono = (F.col("high") > F.lag("high", 1).over(w)) & (
        F.lag("high", 1).over(w) > F.lag("high", 2).over(w)
    )
    lo_mono = (F.col("low") < F.lag("low", 1).over(w)) & (
        F.lag("low", 1).over(w) < F.lag("low", 2).over(w)
    )
    df = (
        df.withColumn("__s50", slope50)
        .withColumn("__s200", slope200)
        .withColumn("__hi_mono", hi_mono)
        .withColumn("__lo_mono", lo_mono)
    )
    latest = last_row_per_symbol(df, time_col="d")
    trend = (
        F.when(
            (F.col("close") > F.col(fast))
            & (F.col(fast) > F.col(slow))
            & (F.col("__s50") > 0)
            & (F.col("__s200") > 0),
            "uptrend",
        )
        .when(
            (F.col("close") < F.col(fast))
            & (F.col(fast) < F.col(slow))
            & (F.col("__s50") < 0)
            & (F.col("__s200") < 0),
            "downtrend",
        )
        .otherwise("sideways")
    )
    conf = F.least(F.abs(F.coalesce(F.col("__s50"), F.lit(0.0)) + F.coalesce(F.col("__s200"), F.lit(0.0))), F.lit(1.0))
    return (
        latest.withColumn("trend", trend)
        .withColumn("confidence", conf)
        .withColumn("higher_highs", F.coalesce(F.col("__hi_mono"), F.lit(False)))
        .withColumn("lower_lows", F.coalesce(F.col("__lo_mono"), F.lit(False)))
        .drop("__s50", "__s200", "__hi_mono", "__lo_mono")
    )


def scan_divergence(df: DataFrame, indicator: str = "rsi", lookback: int = 14, w: WindowSpec | None = None) -> DataFrame:
    """W15 — divergence scan (technical_screener.py:106-141): price trend vs
    indicator trend over a sliding ``lookback`` window; emits event rows.

    regular = price up, indicator down; hidden = price down, indicator up.
    """
    w = w or series_window()
    price_d = F.col("close") - F.lag("close", lookback).over(w)
    ind_d = F.col(indicator) - F.lag(indicator, lookback).over(w)
    kind = (
        F.when((price_d > 0) & (ind_d < 0), "regular")
        .when((price_d < 0) & (ind_d > 0), "hidden")
    )
    return (
        df.withColumn("divergence", kind)
        .filter(F.col("divergence").isNotNull())
        .select("symbol", "time", "close", F.col(indicator), "divergence")
    )


def composite_signal(df: DataFrame, time_col: str = "time", w: WindowSpec | None = None) -> DataFrame:
    """W14 — the composite buy/sell signal (technical_screener.py:143-203).

    Latest-row scoring: RSI<30 → +2, RSI>70 → −2; close crossing MA20 up/down
    ±2; MACD crossing its signal ±2; volume above its SMA20 +1. overall buy if
    score>1, sell if score<−1; confidence = min(1, |score|/6). ``breakdown``
    is a map column mirroring the reference's nested dict.

    Expects rsi / ma_20 / macd / macd_signal / vol columns upstream.
    """
    w = w or series_window(time_col=time_col)
    df = (
        df.withColumn("__prev_close", F.lag("close", 1).over(w))
        .withColumn("__prev_ma20", F.lag("ma_20", 1).over(w))
        .withColumn("__prev_macd", F.lag("macd", 1).over(w))
        .withColumn("__prev_sig", F.lag("macd_signal", 1).over(w))
    )
    latest = last_row_per_symbol(df, time_col=time_col)
    latest = _apply_signal_scores(latest)
    return latest.drop("__prev_close", "__prev_ma20", "__prev_macd", "__prev_sig")


def _apply_signal_scores(latest: DataFrame) -> DataFrame:
    """The W14 scoring block shared by :func:`composite_signal` and
    :func:`composite_signal_scan` — expects close/ma_20/rsi/macd/macd_signal/
    volume/vol_sma_20 plus the __prev_* lag columns on the latest row."""
    rsi_score = (
        F.when(F.col("rsi") < 30, 2).when(F.col("rsi") > 70, -2).otherwise(0)
    )
    ma_score = (
        F.when(
            (F.col("close") > F.col("ma_20")) & (F.col("__prev_close") <= F.col("__prev_ma20")), 2
        )
        .when(
            (F.col("close") < F.col("ma_20")) & (F.col("__prev_close") >= F.col("__prev_ma20")), -2
        )
        .otherwise(0)
    )
    macd_score = (
        F.when(
            (F.col("macd") > F.col("macd_signal")) & (F.col("__prev_macd") <= F.col("__prev_sig")), 2
        )
        .when(
            (F.col("macd") < F.col("macd_signal")) & (F.col("__prev_macd") >= F.col("__prev_sig")), -2
        )
        .otherwise(0)
    )
    vol_score = F.when(F.col("volume") > F.col("vol_sma_20"), 1).otherwise(0)

    latest = (
        latest.withColumn("rsi_score", rsi_score)
        .withColumn("ma_breakout", ma_score)
        .withColumn("macd_cross", macd_score)
        .withColumn("volume_score", vol_score)
        .withColumn(
            "score",
            F.col("rsi_score") + F.col("ma_breakout") + F.col("macd_cross") + F.col("volume_score"),
        )
        .withColumn(
            "overall_signal",
            F.when(F.col("score") > 1, "buy").when(F.col("score") < -1, "sell").otherwise("neutral"),
        )
        .withColumn("confidence", F.least(F.lit(1.0), F.abs(F.col("score")) / 6.0))
        .withColumn(
            "breakdown",
            F.create_map(
                F.lit("rsi"), F.col("rsi_score"),
                F.lit("ma_breakout"), F.col("ma_breakout"),
                F.lit("macd_cross"), F.col("macd_cross"),
                F.lit("volume"), F.col("volume_score"),
            ),
        )
    )
    return latest


def composite_signal_scan(
    bars: DataFrame,
    time_col: str = "d",
    symbol_col: str = "symbol",
    macd: tuple[int, int, int] = (12, 26, 9),
) -> DataFrame:
    """W14 end-to-end with the minimal data movement (perf twin of
    :func:`composite_signal`; identical output for the standard indicator
    chain, minus the map-typed ``breakdown``).

    The generic chain runs the EMA bucket shuffle on the FULL bar history
    (Arrow round-trips every row both ways) and then a second symbol window
    stage for the scoring lags. Here the order is flipped: every NATIVE
    window expression (MA20, RSI, volume SMA, prev-close/prev-MA lags) runs
    first in ONE symbol window stage, and the EMA recursion runs in a
    ``mapInPandas`` pass DIRECTLY over that stage's output partitions —
    the window exchange already clusters each symbol into one partition
    (hashpartitioning(symbol)), so the pandas hop needs NO new shuffle and
    no per-group call overhead (one call per partition, Cython
    ``groupby().ewm()`` inside), and it emits ONLY each symbol's latest
    row: Arrow OUTPUT is O(symbols), the post-pandas scoring a pure
    projection. TWO exchanges end-to-end from ticks.

    Why not ``groupBy(symbol).applyInPandas``: ~10-20 ms per-GROUP overhead
    serializes n_symbols calls once AQE coalesces the tiny exchange
    (measured 6× slower at sf0.1). Why not a bucketed applyInPandas: it
    pays a third exchange for nothing — the window stage already co-located
    the symbols. Peak pandas memory is one partition of the NARROW 9-column
    frame (maxPartitionBytes-bounded at scale).
    """
    from market_data_pipeline_spark.operators import indicators

    w = series_window(symbol_col=symbol_col, time_col=time_col)
    fast, slow, signal = macd
    df = indicators.chain(bars, indicators.sma(periods=(20,), col="close", w=w), indicators.rsi(period=14, w=w))
    df = df.withColumn(
        "vol_sma_20",
        min_periods(F.avg("volume"), F.col("volume"), w, 20),
    )
    df = (
        df.withColumn("__prev_close", F.lag("close", 1).over(w))
        .withColumn("__prev_ma20", F.lag("ma_20", 1).over(w))
        .select(
            symbol_col, time_col, "close", "volume", "ma_20", "rsi",
            "vol_sma_20", "__prev_close", "__prev_ma20",
        )
    )
    schema_parts = [
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ] + ["macd double", "macd_signal double", "__prev_macd double", "__prev_sig double"]
    out_schema = ", ".join(schema_parts)

    import pandas as pd

    def latest_with_macd(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values([symbol_col, time_col], kind="mergesort").reset_index(
            drop=True
        )
        g = pdf.groupby(symbol_col, sort=False)
        e_fast = g["close"].ewm(span=fast, adjust=False, min_periods=fast).mean().to_numpy()
        e_slow = g["close"].ewm(span=slow, adjust=False, min_periods=slow).mean().to_numpy()
        pdf["macd"] = e_fast - e_slow
        pdf["macd_signal"] = (
            pdf.groupby(symbol_col, sort=False)["macd"]
            .ewm(span=signal, adjust=False, min_periods=signal)
            .mean()
            .to_numpy()
        )
        g2 = pdf.groupby(symbol_col, sort=False)
        pdf["__prev_macd"] = g2["macd"].shift(1)
        pdf["__prev_sig"] = g2["macd_signal"].shift(1)
        yield pdf.groupby(symbol_col, sort=False).tail(1)

    latest = df.mapInPandas(latest_with_macd, out_schema)
    _assert_symbol_local_map(latest)
    scored = _apply_signal_scores(latest).drop("breakdown")
    return scored.drop("__prev_close", "__prev_ma20", "__prev_macd", "__prev_sig")


_PLAN_GUARD_OK: set[tuple] = set()


def _assert_symbol_local_map(latest: DataFrame) -> None:
    """Guard the fused plan's load-bearing invariant: the ``mapInPandas``
    EMA pass is only correct if it runs DIRECTLY on the window stage's
    hashpartitioning(symbol) output — every symbol whole within one
    partition. If a future Spark version, AQE rule, or caller-supplied
    pre-shuffled input inserts an Exchange between the Window and the
    MapInPandas, per-partition ``groupby().tail(1)`` would silently emit
    wrong latest rows / truncated recursions; fail loudly at plan time
    instead. Costs one planning pass, no execution — and only on the FIRST
    sighting of a logical plan shape: verdicts are memoised by semantic
    hash (an input with different partitioning ancestry has a different
    logical plan, so it is re-checked)."""
    try:
        spark = latest.sparkSession
        # physical planning depends on session conf too — fold the confs
        # that move Exchanges into the key so a mid-session toggle (AQE,
        # shuffle partitions, broadcast threshold) forces a re-check even
        # for an identical logical plan
        conf_key = tuple(
            spark.conf.get(c, "")
            for c in (
                "spark.sql.adaptive.enabled",
                "spark.sql.shuffle.partitions",
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.execution.sortBeforeRepartition",
            )
        )
        key = (latest._jdf.queryExecution().analyzed().semanticHash(), conf_key)
        if key in _PLAN_GUARD_OK:
            return
    except Exception:  # noqa: BLE001 — cache is best-effort
        key = None
    plan = latest._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    map_idx = next(
        (i for i, ln in enumerate(lines) if "MapInPandas" in ln), None
    )
    if map_idx is None:  # whole-plan rewrite (e.g. cached) — nothing to check
        return
    for ln in lines[map_idx + 1 :]:
        if "Window" in ln:
            if key is not None:
                _PLAN_GUARD_OK.add(key)
            return  # reached the window stage with no shuffle in between
        if "Exchange" in ln or "Coalesce" in ln:
            raise AssertionError(
                "composite_signal_scan: an Exchange was planned between the "
                "symbol window stage and the mapInPandas EMA pass — symbols "
                "are no longer partition-local and the fused path would be "
                "incorrect. Use composite_signal() (the generic chain) or "
                "repartition the input by symbol.\n" + plan[:2000]
            )
    raise AssertionError(
        "composite_signal_scan: no Window stage found beneath the "
        "mapInPandas EMA pass; fused-plan invariant cannot be verified.\n"
        + plan[:2000]
    )


# ---------------------------------------------------------------------------
# P13 — criteria-DSL predicate compiler (technical_screener.py:205-251):
# build a Column expression from {'col'|'value', 'op'} dicts — a compiler,
# not a UDF; the resulting predicate is pushed through Catalyst like any
# hand-written filter.
# ---------------------------------------------------------------------------

_OPS = {
    "lt": lambda a, b: a < b,
    "gt": lambda a, b: a > b,
    "lte": lambda a, b: a <= b,
    "gte": lambda a, b: a >= b,
    "eq": lambda a, b: a == b,
}


def compile_criteria(criteria: dict[str, dict]) -> Column:
    """``{'rsi': {'op': 'lt', 'value': 30}, 'close': {'op': 'gt', 'col':
    'ma_20'}}`` → a single AND-ed Column predicate."""
    pred = F.lit(True)
    for col_name, spec in criteria.items():
        op = _OPS[spec["op"]]
        rhs = F.col(spec["col"]) if "col" in spec else F.lit(spec["value"])
        pred = pred & op(F.col(col_name), rhs)
    return pred


def screen(df: DataFrame, criteria: dict[str, dict], time_col: str = "time") -> DataFrame:
    """Apply the criteria DSL to the latest row per symbol — the reference's
    ``screen_symbols`` loop (technical_screener.py:205-251) as one plan."""
    return last_row_per_symbol(df, time_col=time_col).filter(compile_criteria(criteria))
