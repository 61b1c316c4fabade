"""Edge-case robustness: empty inputs flow through every operator family
without error (the reference's per-symbol failure isolation, SURVEY §4 —
here an empty partition is the normal case, not an exception), plus the
foreachBatch incremental sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from market_data_pipeline_spark.functions.helpers import series_window
from market_data_pipeline_spark.operators import anomaly, asof, breadth, dedup, indicators, screeners


def _empty_bars(spark):
    return spark.createDataFrame(
        [], "symbol string, d date, open double, high double, low double, close double, volume double"
    )


def test_indicator_chain_on_empty_frame(spark):
    b = _empty_bars(spark)
    w = series_window(time_col="d")
    df = indicators.add_ema_macd(b, spans=(12, 26), time_col="d")
    df = indicators.add_sma(df, periods=(10, 20), w=w)
    df = indicators.add_rsi(df, period=14, w=w)
    df = indicators.add_volume_metrics(df, w=w)
    out = screeners.composite_signal(df, time_col="d", w=w)
    assert out.count() == 0
    assert "overall_signal" in out.columns


def test_breadth_on_empty_frame(spark):
    b = _empty_bars(spark)
    assert breadth.derive_breadth(b).count() == 0
    assert breadth.market_health(breadth.derive_breadth(b)).count() == 1  # agg row


def test_dedup_on_empty_docs(spark):
    d = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.exact_duplicates(d).count() == 0
    assert dedup.minhash_lsh_pairs(d).count() == 0


def test_dedup_single_token_docs(spark):
    """Docs shorter than the shingle width produce zero shingles, not an
    error (the sequence() descending-range pitfall)."""
    d = spark.createDataFrame([(1, "hi"), (2, "a b")], "doc_id long, text string")
    assert dedup.shingles(d, n=3).count() == 0
    assert dedup.minhash_lsh_pairs(d).count() == 0


def test_asof_empty_right_side(spark):
    import datetime as dt

    left = spark.createDataFrame(
        [("A", dt.datetime(2024, 1, 1), 1.0)], "sym string, t timestamp, v double"
    )
    right = spark.createDataFrame([], "sym string, mt timestamp, mark double")
    out = asof.asof_join(left, right, "sym", "t", "mt", ["mark"]).collect()
    assert len(out) == 1 and out[0].mark is None


def test_anomaly_constant_series_no_flags(spark):
    """Zero variance → null z-score (÷0 guard), never a spurious flag."""
    rows = [("S", float(i), 5.0) for i in range(30)]
    df = spark.createDataFrame(rows, "symbol string, time double, close double")
    assert anomaly.zscore_anomalies(df, window=10).count() == 0


def test_foreachbatch_incremental_sink(spark, sf_dir, tmp_path):
    """S2/§2.9: the daily-append loop as a streaming foreachBatch sink —
    every micro-batch lands in the same parquet dataset; totals match the
    batch count."""
    from market_data_pipeline_spark.sources.tables import load_table
    from market_data_pipeline_spark.streaming import jobs

    target = str(tmp_path / "incremental")
    ev = jobs.stream_events(spark, sf_dir).select("event_id", "user_id", "ts", "value")

    def append_batch(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(target)

    q = ev.writeStream.foreachBatch(append_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    written = spark.read.parquet(target)
    assert written.count() == load_table(spark, sf_dir, "events").count()


_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _set_conf(spark, key, value):
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


def test_events_reads_restore_nanos_conf(spark, sf_dir):
    """Batch and stream events reads leave the caller's nanosAsLong as it
    was, set or not."""
    from market_data_pipeline_spark.sources.tables import load_table
    from market_data_pipeline_spark.streaming import jobs

    before = spark.conf.get(_NANOS, None)
    try:
        for value in (None, "false", "true"):
            _set_conf(spark, _NANOS, value)
            load_table(spark, sf_dir, "events")
            assert spark.conf.get(_NANOS, None) == value
            jobs.stream_events(spark, sf_dir)
            assert spark.conf.get(_NANOS, None) == value
    finally:
        _set_conf(spark, _NANOS, before)


def test_nanos_events_read_with_conf_restored(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file, which Spark rejects without
    nanosAsLong, still reads through ``read_events`` in a batch collect and
    in a one-batch stream, with ``ts`` truncated to microseconds."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors import AnalysisException

    from market_data_pipeline_spark.sources.tables import load_table
    from market_data_pipeline_spark.streaming import jobs

    ns = [1_704_103_200_123_456_789, 1_704_103_201_000_000_999, None]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": ["a", "b", "a"],
            "value": [1.0, 2.0, 3.0],
            "props": ["", "", ""],
        }),
        tmp_path / "events.parquet",
        version="2.6",
    )
    want = [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0, 123456)),
        (2, dt.datetime(2024, 1, 1, 10, 0, 1)),
        (3, None),
    ]
    before = spark.conf.get(_NANOS, None)
    try:
        spark.conf.unset(_NANOS)
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(str(tmp_path / "events.parquet"))

        batch = load_table(spark, str(tmp_path), "events").select("event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        got = sorted(batch.collect(), key=lambda r: r[0])
        assert spark.conf.get(_NANOS, None) is None

        ev = jobs.stream_events(spark, str(tmp_path)).select("event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        q = (
            ev.writeStream.format("memory").queryName("nanos_events")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        streamed = sorted(spark.table("nanos_events").collect(), key=lambda r: r[0])
    finally:
        _set_conf(spark, _NANOS, before)
    fmt = [(i, t.strftime("%Y-%m-%d %H:%M:%S.%f") if t else None) for i, t in want]
    assert [tuple(r) for r in got] == fmt
    assert [tuple(r) for r in streamed] == fmt
