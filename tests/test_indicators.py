"""Indicator correctness against independent pandas oracles — mirrors the
reference's column math (technical_indicators.py) recomputed with pandas on
the same data, per SURVEY.md §5."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from market_data_pipeline_spark.functions.helpers import series_window
from market_data_pipeline_spark.operators import indicators
from market_data_pipeline_spark.sources.tables import series_from_events


@pytest.fixture(scope="module")
def series_pdf(spark, sf_dir):
    return (
        series_from_events(spark, sf_dir)
        .orderBy("symbol", "time")
        .toPandas()
    )


def test_sma_matches_pandas(spark, sf_dir, series_pdf):
    out = (
        indicators.add_sma(series_from_events(spark, sf_dir), periods=(10,), w=series_window())
        .orderBy("symbol", "time")
        .toPandas()
    )
    expected = series_pdf.groupby("symbol")["close"].transform(
        lambda s: s.rolling(10, min_periods=10).mean()
    )
    pd.testing.assert_series_equal(
        out["ma_10"], expected.rename("ma_10"), check_exact=False, rtol=1e-9
    )


def test_ema_macd_matches_pandas_ewm(spark, sf_dir, series_pdf):
    out = (
        indicators.add_ema_macd(series_from_events(spark, sf_dir), spans=(12, 26))
        .orderBy("symbol", "time")
        .toPandas()
    )
    g = series_pdf.groupby("symbol")["close"]
    exp12 = g.transform(lambda s: s.ewm(span=12, adjust=False, min_periods=12).mean())
    exp26 = g.transform(lambda s: s.ewm(span=26, adjust=False, min_periods=26).mean())
    macd = exp12 - exp26
    sig = (
        pd.DataFrame({"symbol": series_pdf["symbol"], "macd": macd})
        .groupby("symbol")["macd"]
        .transform(lambda s: s.ewm(span=9, adjust=False, min_periods=9).mean())
    )
    pd.testing.assert_series_equal(out["ema_12"], exp12.rename("ema_12"), rtol=1e-9)
    pd.testing.assert_series_equal(out["ema_26"], exp26.rename("ema_26"), rtol=1e-9)
    pd.testing.assert_series_equal(out["macd"], macd.rename("macd"), rtol=1e-9)
    pd.testing.assert_series_equal(out["macd_signal"], sig.rename("macd_signal"), rtol=1e-9)


def test_rsi_matches_pandas(spark, sf_dir, series_pdf):
    out = (
        indicators.add_rsi(series_from_events(spark, sf_dir), period=14, w=series_window())
        .orderBy("symbol", "time")
        .toPandas()
    )

    def rsi(s: pd.Series) -> pd.Series:
        delta = s.diff()
        gain = delta.clip(lower=0)
        loss = -delta.clip(upper=0)
        ag = gain.rolling(14, min_periods=14).mean()
        al = loss.rolling(14, min_periods=14).mean()
        rs = ag / al.replace({0: None})
        return 100 - 100 / (1 + rs)

    expected = series_pdf.groupby("symbol")["close"].transform(rsi).astype("float64")
    pd.testing.assert_series_equal(out["rsi"], expected.rename("rsi"), rtol=1e-9)


def test_cumulative_return_matches_pandas(spark, sf_dir, series_pdf):
    out = (
        indicators.add_returns_momentum(
            series_from_events(spark, sf_dir), w=series_window(), horizons=()
        )
        .orderBy("symbol", "time")
        .toPandas()
    )
    expected = series_pdf.groupby("symbol")["close"].transform(
        lambda s: (1 + s.pct_change().fillna(0)).cumprod() - 1
    )
    pd.testing.assert_series_equal(
        out["cumulative_return"], expected.rename("cumulative_return"), rtol=1e-7
    )


def test_min_periods_null_prefix(spark, sf_dir):
    out = (
        indicators.add_sma(series_from_events(spark, sf_dir), periods=(20,), w=series_window())
        .groupBy("symbol")
        .agg(
            F.sum(F.when(F.col("ma_20").isNull(), 1).otherwise(0)).alias("n_null"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for r in out:
        assert r["n_null"] == min(19, r["n"]), "first 19 rows per symbol must be null"


def test_rolling_median_guard_and_approx(spark, sf_dir):
    """Round-1 verdict #5: exact rolling median is O(period) memory per row —
    period > 501 must raise with a pointer to the approx sketch path, and the
    approx path must agree with exact on a narrow window."""
    import pytest

    from market_data_pipeline_spark.functions.helpers import series_window
    from market_data_pipeline_spark.sources.tables import bars_from_events

    b = bars_from_events(spark, sf_dir).select("symbol", "d", "close")
    w = series_window(time_col="d")
    with pytest.raises(ValueError, match="approx=True"):
        indicators.add_rolling_median(b, period=503, w=w)
    with pytest.raises(ValueError, match="odd"):
        indicators.add_rolling_median(b, period=20, w=w)
    # approx (sketch) == exact at default accuracy on a 21-bar frame
    exact = indicators.add_rolling_median(b, period=21, w=w, out_col="m")
    approx = indicators.add_rolling_median(
        b, period=21, w=w, out_col="m", approx=True
    )
    e = {(r.symbol, r.d): r.m for r in exact.collect()}
    a = {(r.symbol, r.d): r.m for r in approx.collect()}
    assert set(e) == set(a)
    diffs = [
        abs(e[k] - a[k]) for k in e if e[k] is not None and a[k] is not None
    ]
    assert diffs and max(diffs) == 0.0  # exact element at this accuracy
    # wide window allowed when approx requested
    wide = indicators.add_rolling_median(b, period=1001, w=w, approx=True)
    assert "median_1001" in wide.columns


def test_adjusted_close_backward_product(spark):
    """adj_close multiplies by every action factor strictly AFTER the bar:
    two 2:1 splits => x0.25 before both, x0.5 between, x1 after the last."""
    import datetime as dt

    from market_data_pipeline_spark.operators.indicators import add_adjusted_close

    d0 = dt.date(2024, 1, 1)
    rows = [(1, d0 + dt.timedelta(days=i), 100.0) for i in range(5)]
    bars = spark.createDataFrame(rows, "symbol long, d date, close double")
    actions = spark.createDataFrame(
        [(1, d0 + dt.timedelta(days=1), 0.5), (1, d0 + dt.timedelta(days=3), 0.5)],
        "symbol long, d date, factor double",
    )
    out = {r.d.day: round(r.adj_close, 9) for r in add_adjusted_close(bars, actions).collect()}
    assert out == {1: 25.0, 2: 50.0, 3: 50.0, 4: 100.0, 5: 100.0}


def test_adjusted_close_action_on_gap_date_still_adjusts_history(spark):
    """An action whose ex-date has no bar row (halt/holiday) must still
    rescale all earlier bars; one after the FINAL bar must rescale all of
    them. Synthetic rows never leak into the output."""
    import datetime as dt

    from market_data_pipeline_spark.operators.indicators import add_adjusted_close

    d0 = dt.date(2024, 1, 1)
    # bars on days 1,2,4,5 — day 3 is a gap
    rows = [(1, d0 + dt.timedelta(days=i), 100.0) for i in (0, 1, 3, 4)]
    bars = spark.createDataFrame(rows, "symbol long, d date, close double")
    actions = spark.createDataFrame(
        [
            (1, d0 + dt.timedelta(days=2), 0.5),   # ex-date on the gap day
            (1, d0 + dt.timedelta(days=9), 0.1),   # after the last bar
        ],
        "symbol long, d date, factor double",
    )
    res = add_adjusted_close(bars, actions).collect()
    out = {r.d.day: round(r.adj_close, 9) for r in res}
    # gap-day split halves days 1-2; trailing 0.1 scales everything
    assert out == {1: 5.0, 2: 5.0, 4: 10.0, 5: 10.0}
    assert len(res) == 4  # synthetic action rows filtered out
    assert all(r.close == 100.0 for r in res)


def test_rsi_wilder_matches_pandas_ewm(spark):
    """Wilder RSI == pandas ewm(alpha=1/p, adjust=False, min_periods=p)
    over clipped deltas, with avg_loss=0 pinned at 100."""
    import numpy as np
    import pandas as pd

    from market_data_pipeline_spark.operators.indicators import add_rsi_wilder

    rng = np.random.RandomState(7)
    closes = 100 + np.cumsum(rng.randn(60))
    rows = [(1, i, float(c)) for i, c in enumerate(closes)]
    df = spark.createDataFrame(rows, "symbol long, time long, close double")
    got = {
        r.time: r.rsi_wilder
        for r in add_rsi_wilder(df, period=14).collect()
    }
    s = pd.Series(closes)
    delta = s.diff()
    g = delta.clip(lower=0).ewm(alpha=1 / 14, adjust=False, min_periods=14).mean()
    l = (-delta).clip(lower=0).ewm(alpha=1 / 14, adjust=False, min_periods=14).mean()
    want = np.where(l == 0, 100.0, 100 - 100 / (1 + g / l))
    for i in range(60):
        if i < 14:
            assert got[i] is None or (got[i] != got[i])  # null prefix
        else:
            assert abs(got[i] - want[i]) < 1e-9
    # monotone-up series: losses all zero -> RSI pinned at 100
    up = spark.createDataFrame(
        [(1, i, float(i)) for i in range(20)], "symbol long, time long, close double"
    )
    vals = [r.rsi_wilder for r in add_rsi_wilder(up, period=5).collect() if r.time >= 5]
    assert all(v == 100.0 for v in vals)


def test_composite_signal_scan_matches_generic_chain(spark, sf_dir):
    """The fused 2-exchange W14 plan must produce EXACTLY the generic
    chain's scoring (EMA-first + window chain + composite_signal) — same
    latest rows, scores, signals, confidence."""
    from market_data_pipeline_spark.functions.helpers import series_window
    from market_data_pipeline_spark.operators import screeners
    from market_data_pipeline_spark.sources.tables import bars_from_events

    b = bars_from_events(spark, sf_dir).select("symbol", "d", "close", "volume")
    fused = screeners.composite_signal_scan(b, time_col="d")

    w = series_window(time_col="d")
    df = indicators.add_ema_macd(b, spans=(12, 26), time_col="d")
    df = indicators.add_sma(df, periods=(20,), w=w)
    df = indicators.add_rsi(df, period=14, w=w)
    df = indicators.add_volume_metrics(df, w=w)
    generic = screeners.composite_signal(df, time_col="d", w=w)

    cols = ["symbol", "d", "close", "score", "overall_signal", "confidence"]
    got = {tuple(r) for r in fused.select(*cols).collect()}
    want = {tuple(r) for r in generic.select(*cols).collect()}
    assert got == want and len(got) > 0


def test_adjusted_close_same_day_actions_pre_multiplied(spark):
    """Two actions on one (symbol, day) — split + special dividend — must
    pre-multiply into one factor, never fan the bar row out."""
    import datetime as dt

    from market_data_pipeline_spark.operators.indicators import add_adjusted_close

    d0 = dt.date(2024, 1, 1)
    bars = spark.createDataFrame(
        [(1, d0, 100.0), (1, d0 + dt.timedelta(days=1), 100.0)],
        "symbol long, d date, close double",
    )
    actions = spark.createDataFrame(
        [(1, d0 + dt.timedelta(days=1), 0.5), (1, d0 + dt.timedelta(days=1), 0.8)],
        "symbol long, d date, factor double",
    )
    out = add_adjusted_close(bars, actions).collect()
    assert len(out) == 2, "bar rows must not duplicate on same-day actions"
    got = {r.d.day: round(r.adj_close, 9) for r in out}
    assert got == {1: 40.0, 2: 100.0}  # 100 * 0.5 * 0.8 before the ex-date


def test_return_autocorrelation_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from market_data_pipeline_spark.operators import indicators

    rng = np.random.RandomState(11)
    px = 100 * np.cumprod(1 + rng.normal(0, 0.02, 120))
    rows = [
        ("AAA", float(i), float(p)) for i, p in enumerate(px)
    ] + [("BBB", float(i), float(100 + (i % 7))) for i in range(60)]
    df = spark.createDataFrame(rows, "symbol string, time double, close double")
    got = {
        (r["symbol"], r["lag"]): (r["acf"], r["n_obs"])
        for r in indicators.return_autocorrelation(df, lags=(1, 3)).collect()
    }

    for sym, prices in (("AAA", px), ("BBB", [100 + (i % 7) for i in range(60)])):
        s = pd.Series(prices, dtype=float).pct_change()
        for k in (1, 3):
            want = s.corr(s.shift(k))  # pandas pearson, pairwise-complete
            acf, n = got[(sym, k)]
            assert abs(acf - round(want + 1e-9, 6)) < 1e-6, (sym, k)
            assert n == len(prices) - 1 - k


def test_information_coefficient_matches_pandas_spearman(spark):
    import numpy as np
    import pandas as pd

    from market_data_pipeline_spark.operators import indicators

    rng = np.random.RandomState(3)
    syms = [f"S{i}" for i in range(8)]
    rows = []
    prices = {}
    for s in syms:
        px = 100 * np.cumprod(1 + rng.normal(0, 0.03, 30))
        prices[s] = px
        rows += [(s, float(t), float(p)) for t, p in enumerate(px)]
    df = spark.createDataFrame(rows, "symbol string, time double, close double")
    got = {
        r["time"]: (r["ic"], r["n_symbols"])
        for r in indicators.information_coefficient(df, signal_lag=5).collect()
    }

    pdf = pd.DataFrame(prices)
    sig = pdf / pdf.shift(5) - 1
    fwd = pdf.shift(-1) / pdf - 1
    for t in range(5, 29):  # both signal and forward defined
        # spearman = pearson of ranks (scipy-free; data is tie-free)
        want = sig.iloc[t].rank().corr(fwd.iloc[t].rank())
        ic, n = got[float(t)]
        assert n == 8
        # continuous data -> no rank ties -> tiebreak-free Spearman
        assert abs(ic - round(want + 1e-9, 6)) < 1e-6, t


def test_obv_hand_computed(spark):
    # closes 10, 11, 11, 9, 12 with volumes 100..500:
    # signs: first 0, up +200, flat 0, down -400, up +500 -> obv cum
    import datetime as dt

    rows = [
        (1, dt.date(2024, 1, i + 1), c, v)
        for i, (c, v) in enumerate(
            [(10.0, 100.0), (11.0, 200.0), (11.0, 300.0), (9.0, 400.0), (12.0, 500.0)]
        )
    ]
    df = spark.createDataFrame(rows, "symbol long, d date, close double, volume double")
    from market_data_pipeline_spark.operators.indicators import add_obv

    got = {r.d.day: r.obv for r in add_obv(df).collect()}
    assert got == {1: 0.0, 2: 200.0, 3: 200.0, 4: -200.0, 5: 300.0}


def test_mfi_two_flow_window(spark):
    # period=2: MFI over the last two bars' flows; tp rises then falls
    import datetime as dt

    rows = [
        (1, dt.date(2024, 1, 1), 10.0, 10.0, 10.0, 100.0),
        (1, dt.date(2024, 1, 2), 12.0, 12.0, 12.0, 100.0),  # tp 12 up, flow 1200
        (1, dt.date(2024, 1, 3), 9.0, 9.0, 9.0, 100.0),     # tp 9 down, flow 900
    ]
    df = spark.createDataFrame(
        rows, "symbol long, d date, high double, low double, close double, volume double"
    )
    from market_data_pipeline_spark.operators.indicators import add_mfi

    got = {r.d.day: r.mfi for r in add_mfi(df, period=2).collect()}
    # day 2: only one flow in the 2-row frame -> null; day 3: pos 1200 neg 900
    assert got[1] is None and got[2] is None
    assert abs(got[3] - round(100 * 1200 / 2100, 6)) < 1e-9


def test_liquidity_metrics_hand_computed(spark):
    """3-day toy series: returns +10%, -5%; dollar volumes and signed
    volumes small enough to verify Amihud and Kyle by hand."""
    import datetime as dt

    from market_data_pipeline_spark.operators import indicators

    rows = [
        ("A", dt.date(2024, 1, 1), 100.0, 1000.0),
        ("A", dt.date(2024, 1, 2), 110.0, 2000.0),  # ret +0.10, dv 220000, sv +2000
        ("A", dt.date(2024, 1, 3), 104.5, 1000.0),  # ret -0.05, dv 104500, sv -1000
    ]
    df = spark.createDataFrame(rows, "symbol string, d date, close double, volume double")
    r = indicators.liquidity_metrics(df).collect()[0]
    assert r.n_days == 2
    want_amihud = ((0.10 / 220000.0 + 0.05 / 104500.0) / 2) * 1e6
    assert abs(r.amihud_illiq - want_amihud) < 1e-6
    # n_days < 3 -> lambda withheld
    assert r.kyle_lambda is None

    # 4 usable days with sign-varied flow: lambda = cov(ret, sv)/var(sv)
    rows_b = [
        ("B", dt.date(2024, 1, 1), 100.0, 1000.0),
        ("B", dt.date(2024, 1, 2), 102.0, 1500.0),
        ("B", dt.date(2024, 1, 3), 99.96, 800.0),
        ("B", dt.date(2024, 1, 4), 101.9592, 1200.0),
        ("B", dt.date(2024, 1, 5), 99.920016, 900.0),
    ]
    dfb = spark.createDataFrame(rows_b, "symbol string, d date, close double, volume double")
    rb = indicators.liquidity_metrics(dfb).collect()[0]
    rets = [0.02, -0.02, 0.02, -0.02]
    svs = [1500.0, -800.0, 1200.0, -900.0]
    n = 4
    mr, ms = sum(rets) / n, sum(svs) / n
    cov = sum((x - mr) * (y - ms) for x, y in zip(rets, svs)) / (n - 1)
    var = sum((y - ms) ** 2 for y in svs) / (n - 1)
    assert rb.n_days == 4
    assert abs(rb.kyle_lambda - round(cov / var * 1e9 + 1e-9, 6)) < 1e-3


def test_holt_forecast_hand_computed_and_python_replica(spark):
    """Holt: y=[10,12,13] gives l=13.8, b=1.98, 5-step forecast 23.7
    (hand-derived); random series match a pure-Python replay of the
    quantized recursion exactly; 1-row symbols are excluded."""
    import random

    from market_data_pipeline_spark.operators.indicators import holt_forecast

    rows = [("A", 1, 10.0), ("A", 2, 12.0), ("A", 3, 13.0), ("B", 1, 5.0)]
    df = spark.createDataFrame(rows, "symbol string, d int, close double")
    out = {r.symbol: r for r in holt_forecast(df, alpha=0.2, beta=0.1, horizon=5).collect()}
    assert set(out) == {"A"}  # B has 1 obs -> no trend init
    a = out["A"]
    assert (a.n_obs, a.level, a.trend, a.forecast) == (3, 13.8, 1.98, 23.7)

    rng = random.Random(11)
    series = [round(rng.uniform(1, 100), 2) for _ in range(40)]
    df2 = spark.createDataFrame(
        [("S", i, v) for i, v in enumerate(series)], "symbol string, d int, close double"
    )
    got = holt_forecast(df2, alpha=0.3, beta=0.2, horizon=3).collect()[0]
    l, b = round(series[0] + 1e-13, 10), round(series[1] - series[0] + 1e-13, 10)
    for y in series[1:]:
        nl = round(0.3 * y + (1.0 - 0.3) * (l + b) + 1e-13, 10)
        b = round(0.2 * (nl - l) + (1.0 - 0.2) * b + 1e-13, 10)
        l = nl
    assert (got.level, got.trend) == (l, b)
    assert got.forecast == round(l + 3.0 * b + 1e-9, 6)


def test_cusum_alarms_detects_level_shift_python_replica(spark):
    """A series that shifts +2σ halfway fires upward CUSUM alarms while a
    stationary one stays silent; counts match a pure-Python replay of the
    quantized recursion."""
    from market_data_pipeline_spark.operators.indicators import cusum_alarms

    shifted = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0] + [11.5, 11.6, 11.4, 11.5, 11.6, 11.5]
    flat = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0] * 2
    rows = [("S", i, v) for i, v in enumerate(shifted)] + [
        ("F", i, v) for i, v in enumerate(flat)
    ]
    df = spark.createDataFrame(rows, "symbol string, d int, close double")
    got = {r.symbol: r for r in cusum_alarms(df, k=0.25, h=2.0).collect()}

    def replay(series):
        import statistics

        mean = round(statistics.fmean(series) + 1e-9, 6)
        std = round(statistics.stdev(series) + 1e-9, 6)
        sp = sn = 0.0
        up = dn = 0
        for y in series:
            z = (y - mean) / std
            zsp = round(max(0.0, (sp + z) - 0.25) + 1e-13, 10)
            zsn = round(max(0.0, (sn - z) - 0.25) + 1e-13, 10)
            sp = 0.0 if zsp > 2.0 else zsp
            sn = 0.0 if zsn > 2.0 else zsn
            up += 1 if zsp > 2.0 else 0
            dn += 1 if zsn > 2.0 else 0
        return up, dn

    for sym, series in (("S", shifted), ("F", flat)):
        up, dn = replay(series)
        assert (got[sym].alarms_up, got[sym].alarms_down) == (up, dn)
    assert got["S"].alarms_up >= 1  # the shift is caught
    assert got["F"].alarms_up == 0 and got["F"].alarms_down == 0


def test_seasonal_decompose_recovers_planted_cycle(spark):
    """A pure period-3 cycle on a flat base: trend ≈ base (centered mean of
    one full cycle is the base), seasonal recovers the planted offsets
    re-centered to mean 0, residual ≈ 0; edge rows (no full window) drop."""
    from market_data_pipeline_spark.operators.indicators import seasonal_decompose

    offsets = [2.0, -1.0, -1.0]  # mean 0 already
    import datetime as dt

    rows = [
        ("A", dt.date(2024, 1, 1) + dt.timedelta(days=i), 100.0 + offsets[i % 3])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "symbol string, d date, close double")
    out = seasonal_decompose(df, period=3).orderBy("d").collect()
    assert len(out) == 10  # 12 minus one edge row each side
    for r in out:
        assert r.trend == 100.0  # centered mean over one full cycle
        assert abs(r.residual) <= 1e-6
        assert r.close - 100.0 == pytest.approx(r.seasonal, abs=1e-6)
    # the phase effects re-centered to mean 0 are exactly the planted offsets
    assert {round(r.seasonal, 6) for r in out} == {2.0, -1.0}


def test_theil_sen_robust_to_one_outlier(spark):
    """y = 5 + 2t with one wild spike: Theil-Sen recovers slope 2 and
    intercept 5 exactly (median of pairwise slopes ignores the outlier);
    OLS on the same data would be bent far off."""
    import datetime as dt

    from market_data_pipeline_spark.operators.indicators import theil_sen_trend

    base = dt.date(2024, 1, 1)
    rows = []
    for i in range(11):
        y = 5.0 + 2.0 * i
        if i == 5:
            y += 1000.0  # fat finger
        rows.append(("A", base + dt.timedelta(days=i), y))
    df = spark.createDataFrame(rows, "symbol string, d date, close double")
    r = theil_sen_trend(df).collect()[0]
    assert r.n_obs == 11 and r.n_pairs == 55
    t0 = (base - dt.date(1970, 1, 1)).days
    assert r.slope == 2.0
    # intercept is median(y - 2t) over epoch-day t: 5 - 2*t0 for clean rows
    assert r.intercept == round(5.0 - 2.0 * t0 + 1e-9, 6)


def test_kalman_level_tracks_step_python_replica(spark):
    """The local-level Kalman filter converges its gain and tracks a level
    step faster than its final-gain EMA equivalent would suggest early
    on; every output matches a pure-Python replay of the quantized
    recursion, and a noiseless constant series filters to the constant."""
    import math

    from market_data_pipeline_spark.operators.indicators import kalman_level

    stepped = [10.0] * 6 + [14.0] * 6
    const = [7.0] * 8
    rows = [("S", i, v) for i, v in enumerate(stepped)] + [
        ("C", i, v) for i, v in enumerate(const)
    ]
    df = spark.createDataFrame(rows, "symbol string, d int, close double")
    got = {r.symbol: r for r in kalman_level(df, q=0.0625, r=1.0).collect()}

    def replay(series, q=0.0625, r=1.0):
        x = round(series[0] + 1e-13, 10)
        p = round(r + 1e-13, 10)
        k = 0.0
        si = 0.0
        for y in series[1:]:
            pp = round(p + q + 1e-13, 10)
            k = round(pp / (pp + r) + 1e-13, 10)
            nx = round(x + k * (y - x) + 1e-13, 10)
            p = round((1.0 - k) * pp + 1e-13, 10)
            si = round(si + (y - x) * (y - x) + 1e-13, 10)
            x = nx
        n = len(series)
        return x, k, round(math.sqrt(si / (n - 1)) + 1e-9, 6)

    for sym, series in (("S", stepped), ("C", const)):
        x, k, rmse = replay(series)
        assert got[sym].kf_level == x
        assert got[sym].kf_gain == k
        assert got[sym].innov_rmse == rmse
    # constant series: level IS the constant, innovations are zero
    assert got["C"].kf_level == 7.0 and got["C"].innov_rmse == 0.0
    # the step is mostly absorbed after 6 post-step observations: residual
    # error ~ 4·(1−k*)^6 ≈ 0.9 at k* ≈ 0.222
    assert 13.0 < got["S"].kf_level < 14.0
    # steady-state gain for q=1/16, r=1: k* solves k = (p+q)/(p+q+1) with
    # p = (1-k)(p+q) -> k* ~ 0.2215; the fold must have converged there
    assert abs(got["S"].kf_gain - 0.2215) < 0.01


def test_hurst_exponent_replay_and_alternating_floor(spark):
    """Two 33-bar series: symbol 'alt' alternates +1/-1 diffs — every
    chunk at every size has R=1, S=1, so RS(n) is flat and H is exactly
    0 (maximal mean reversion); symbol 'rw' follows a fixed pseudo-random
    +/-1 walk whose H must match a pure-python replay of the operator's
    own quantized R/S pipeline."""
    import datetime as dt
    import math

    from market_data_pipeline_spark.operators.indicators import hurst_exponent

    diffs = {
        "alt": [1, -1] * 16,
        "rw": [1, 1, -1, 1, -1, -1, 1, 1, 1, -1, 1, -1, -1, -1, 1, 1,
               -1, 1, 1, -1, -1, 1, -1, 1, 1, 1, -1, -1, 1, -1, 1, -1],
    }
    rows = []
    for sym, xs in diffs.items():
        close = 100.0
        rows.append((sym, dt.date(2024, 1, 1), close))
        for j, x in enumerate(xs):
            close += x
            rows.append((sym, dt.date(2024, 1, 1) + dt.timedelta(days=j + 1), close))
    df = spark.createDataFrame(rows, "symbol string, d date, close double")

    sizes = (4, 8, 16)

    def replay(xs):
        ys = {}
        for n in sizes:
            rss = []
            for c in range(len(xs) // n):
                chunk = xs[c * n:(c + 1) * n]
                mean = round(sum(chunk) / n + 1e-13, 10)
                cum, zs = 0.0, []
                for k, x in enumerate(chunk, start=1):
                    cum += x
                    zs.append(cum - k * mean)
                r = max(zs) - min(zs)
                s = round(math.sqrt(sum((x - mean) ** 2 for x in chunk) / n) + 1e-13, 10)
                if s > 0:
                    rss.append(round(r / s + 1e-9, 8))
            rsn = round(sum(rss) / len(rss) + 1e-9, 8)
            ys[n] = round(math.log(rsn) + 1e-13, 10)
        lns = [math.log(n) for n in sizes]
        ml = sum(lns) / len(lns)
        den = sum((v - ml) ** 2 for v in lns)
        co = [(v - ml) / den for v in lns]
        h = co[0] * ys[4] + co[1] * ys[8] + co[2] * ys[16]
        return round(h + 1e-9, 6)

    got = {r.symbol: r.hurst for r in hurst_exponent(df, sizes=sizes).collect()}
    assert got["alt"] == 0.0
    assert got["rw"] == replay([float(x) for x in diffs["rw"]])


def _one_by_one(df, *indicators):
    """The sequential chain ``indicators.chain`` replaces: one ``withColumn``
    per column in declared order, each indicator's temporaries dropped
    after it."""
    for levels in indicators:
        names = [n for level in levels for n in level]
        for level in levels:
            for name, c in level.items():
                df = df.withColumn(name, c)
        df = df.drop(*[n for n in names if n.startswith("__")])
    return df


def _adversarial_bars(spark):
    """Daily bars with an input ``ma_20`` column: a 130-bar symbol, a 40-bar
    symbol (shorter than the 126-bar momentum) with a zero close and a null
    volume, and a one-bar symbol."""
    import datetime as dt

    day0 = dt.date(2024, 1, 1)
    rows = []
    for sym, n in ((1, 130), (2, 40), (3, 1)):
        for i in range(n):
            close = 0.0 if (sym, i) == (2, 17) else 50.0 + ((i * 7 + sym) % 11) - 0.25 * sym
            volume = None if (sym, i) == (2, 5) else float(100 + (i * 13) % 29)
            rows.append((sym, day0 + dt.timedelta(days=i), close + 1.0, close + 2.0, close - 1.0, close, volume, -7.0))
    return spark.createDataFrame(
        rows, "symbol long, d date, open double, high double, low double, close double, volume double, ma_20 double"
    )


def test_chain_equals_sequential_composition(spark):
    """One ``withColumns`` per level gives the sequential chain's columns,
    order, types and values, the input's ``ma_20`` replaced in place and the
    cumulative return pinned at −1 after the zero close."""
    w = series_window(time_col="d")
    daily = (
        indicators.sma(periods=(10, 20), w=w),
        indicators.rsi(period=14, w=w),
        indicators.bollinger(w=w),
        indicators.atr(w=w),
        indicators.volume_metrics(w=w),
        indicators.returns_momentum(w=w),
        indicators.dist_ma(periods=(10, 20)),
    )
    bars = _adversarial_bars(spark)
    got = indicators.chain(bars, *daily)
    want = _one_by_one(bars, *daily)
    assert got.dtypes == want.dtypes
    assert got.columns.index("ma_20") == bars.columns.index("ma_20")
    rows = sorted(got.collect())
    assert rows == sorted(want.collect())
    assert len(rows) == 171 and min(r.ma_20 or 0.0 for r in rows) > -7.0
    two = [r for r in rows if r.symbol == 2]
    assert two[17].close == 0.0 and {r.cumulative_return for r in two[17:]} == {-1.0}
    assert all(r.momentum_6m is None for r in two)

    # a reader placed before the writer reads the input's column
    late = (indicators.dist_ma(periods=(20,)), indicators.sma(periods=(20,), w=w))
    assert sorted(indicators.chain(bars, *late).collect()) == sorted(_one_by_one(bars, *late).collect())


def test_chain_rejects_two_writers_of_one_name(spark):
    w = series_window(time_col="d")
    with pytest.raises(ValueError, match="ma_20"):
        indicators.chain(_adversarial_bars(spark), indicators.sma((10, 20), w=w), indicators.sma((20,), w=w))
