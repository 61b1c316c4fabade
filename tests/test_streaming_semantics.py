"""Hard streaming semantics: watermark late-data handling across real
micro-batch boundaries, and exactly-once resumption from a checkpoint.

These are the behaviors the reference's TTL-cache fake cannot express
(SURVEY §2.9) and the reason the engine's streaming layer is Structured
Streaming rather than a scheduler loop.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    df.coalesce(1).write.mode("append").parquet(path)


def test_append_emits_only_watermark_finalized_windows(spark, tmp_path):
    """Append-mode discipline (the guarantee Spark actually makes — late-row
    DROPPING is best-effort, finalization is not): a window appears in the
    append output only once the watermark passes its end."""
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "stream_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    _write_batch(spark, src, [(1, t, 1.0), (2, t + dt.timedelta(minutes=5), 1.0)])
    schema = "event_id long, ts timestamp, value double"

    def run(name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.sum("value").alias("total"))
            .select(F.col("win.start").alias("win_start"), "total")
        )
        emitted = []

        def sink(batch_df, _bid):
            emitted.extend(batch_df.collect())

        with jobs.stream_width(spark):
            q = (
                agg.writeStream.outputMode("append")
                .foreachBatch(sink)
                .option("checkpointLocation", str(tmp_path / "ckpt_append"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return {r.win_start: r.total for r in emitted}

    # run 1: watermark ends at 11:05 — the 12:00 window is still open
    out1 = run("append_run1")
    assert dt.datetime(2024, 1, 1, 12, 0, 0) not in out1

    # a 15:00 event advances the watermark past 13:00 → 12:00 finalizes
    _write_batch(spark, src, [(3, t + dt.timedelta(hours=3), 1.0)])
    out2 = run("append_run2")
    assert out2.get(dt.datetime(2024, 1, 1, 12, 0, 0)) == 2.0


def test_streaming_dedup_state_spans_batches(spark, tmp_path):
    """dropDuplicates state is remembered across micro-batches within the
    watermark horizon: a replay of batch-1's (event_id) in batch 2 is
    suppressed — the keep-last TTL-cache semantics, but fault-tolerant."""
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "dedup_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    _write_batch(spark, src, [(1, t, 1.0), (2, t + dt.timedelta(minutes=1), 2.0)])
    # batch 2 replays event 1 (same id+ts) and adds a fresh event 3
    _write_batch(
        spark,
        src,
        [(1, t, 999.0), (3, t + dt.timedelta(minutes=2), 3.0)],
    )
    schema = "event_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id", "ts"])
    with jobs.stream_width(spark):
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_batches")
            .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    rows = spark.table("dedup_batches").collect()
    assert len(rows) == 3  # replay suppressed
    vals = {r.event_id: r.value for r in rows}
    assert vals[1] == 1.0  # first occurrence won, not the replay


def test_checkpoint_resume_no_duplicates(spark, tmp_path):
    """Stop after batch 1, restart with the same checkpoint: the second run
    processes ONLY the new file — counts equal the union exactly once."""
    src = str(tmp_path / "ckpt_src")
    out = str(tmp_path / "ckpt_out")
    ckpt = str(tmp_path / "ckpt_meta")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    _write_batch(spark, src, [(i, t, 1.0) for i in range(10)])

    schema = "event_id long, ts timestamp, value double"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 10
    # new data arrives while the query is down
    _write_batch(spark, src, [(i, t, 1.0) for i in range(10, 15)])
    run_once()
    result = spark.read.parquet(out)
    assert result.count() == 15  # no reprocessing, no loss
    assert result.select("event_id").distinct().count() == 15


def test_processing_time_trigger_incremental_pickup(spark, tmp_path):
    """The reference's 60s TTL realtime cache as a real micro-batch trigger
    (price_extractor.py:16-136 analog): a processingTime stream picks up
    files that arrive while it runs — no restart, no cache invalidation."""
    import time

    src = str(tmp_path / "rt_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    _write_batch(spark, src, [(1, t, 1.0)])
    schema = "event_id long, ts timestamp, value double"
    stream = spark.readStream.schema(schema).parquet(src)
    seen = []

    def sink(batch_df, bid):
        seen.extend(r.event_id for r in batch_df.collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "rt_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 30
        while 1 not in seen and time.time() < deadline:
            time.sleep(0.5)
        assert 1 in seen
        # new data lands mid-stream; the next tick must pick it up
        _write_batch(spark, src, [(2, t + dt.timedelta(minutes=1), 2.0)])
        deadline = time.time() + 30
        while 2 not in seen and time.time() < deadline:
            time.sleep(0.5)
        assert 2 in seen
    finally:
        q.stop()


def test_stream_stream_join_matches_batch_twin(spark, sf_dir):
    """Inner stream-stream interval join must emit exactly the batch-join
    answer, and the physical plan must carry watermarks on BOTH sides (that
    is what bounds the join state at scale)."""
    from market_data_pipeline_spark.streaming import jobs

    joined = jobs.stream_stream_attribution(spark, sf_dir)
    analyzed = joined._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("EventTimeWatermark") == 2  # both sides bounded
    got = jobs.run_stream_to_memory(spark, joined, "ss_attr", output_mode="append")

    from market_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    p = ev.filter(F.col("event_type") == "purchase")
    want = (
        c.join(
            p,
            (F.col("u") == F.col("user_id"))
            & (F.col("ts") >= F.col("cts"))
            & (F.col("ts") <= F.col("cts") + F.expr("interval 1 hour")),
        )
        .select("user_id", "click_id", F.col("event_id").alias("buy_id"))
    )
    assert sorted(map(tuple, got.select("user_id", "click_id", "buy_id").collect())) == sorted(
        map(tuple, want.collect())
    )


def test_late_rows_beyond_watermark_are_dropped(spark, tmp_path):
    """Once the watermark finalizes a window and its state is evicted, a
    late row for that window must be DROPPED — the finalized total never
    re-emits or changes (this is what bounds state at scale; a TTL cache
    would silently double-count the replay)."""
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, value double"

    def run():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.sum("value").alias("total"))
            .select(F.col("win.start").alias("win_start"), "total")
        )
        emitted = []

        def sink(batch_df, _bid):
            emitted.extend(batch_df.collect())

        with jobs.stream_width(spark):
            q = (
                agg.writeStream.outputMode("append")
                .foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return [(r.win_start, r.total) for r in emitted]

    _write_batch(spark, src, [(1, t, 1.0), (2, t + dt.timedelta(minutes=10), 1.0)])
    _write_batch(spark, src, [(3, t + dt.timedelta(hours=2), 1.0)])  # advances wm past 13:00
    out1 = run()
    assert (t, 2.0) in out1  # 12:00 window finalized with both rows

    # now a LATE row for the already-finalized 12:00 window
    _write_batch(spark, src, [(4, t + dt.timedelta(minutes=20), 99.0)])
    out2 = run()
    assert all(w != t for w, _ in out2)  # never re-emitted, late row dropped


def test_stateful_state_survives_query_restart(spark, tmp_path):
    """The Welford anomaly detector's state store is recovered from the
    checkpoint on a full query restart: post-restart events are z-scored
    against observation counts accumulated BEFORE the restart. If state
    were lost, n would restart below min_obs and nothing could be flagged.
    This is the fault-tolerance contract a 1000-executor deployment leans
    on — executors die; state must not."""
    from market_data_pipeline_spark.streaming import jobs, stateful

    src = str(tmp_path / "restart_src")
    out = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, event_id long, ts timestamp, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        flagged = stateful.streaming_anomaly_zscore(stream, threshold=3.0, min_obs=10)
        with jobs.stream_width(spark):
            q = (
                flagged.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # run 1: 20 calm observations for user 7 (state: n=20)
    write([(7, i, t + dt.timedelta(minutes=i), 10.0 + (i % 5) * 0.1) for i in range(20)])
    run_once()
    # query is DOWN; a spike arrives, then the query restarts from checkpoint
    write([(7, 100, t + dt.timedelta(minutes=100), 50.0)])
    run_once()

    got = {r.event_id: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 21  # every event emitted exactly once across both runs
    spike = got[100]
    assert spike.is_anomaly, "state lost on restart: spike not flagged (n reset below min_obs)"

    # exact z: prefix mean/std over the 20 pre-restart values
    import statistics

    pre = [10.0 + (i % 5) * 0.1 for i in range(20)]
    want_z = (50.0 - statistics.mean(pre)) / statistics.stdev(pre)
    assert abs(spike.zscore - round(want_z, 4)) < 1e-9


def _welford_replay(batches, threshold, min_obs):
    """Sequential per-key Welford replay of (user_id, event_id, ts, value)
    rows, one micro-batch after another, each in (ts, event_id) order with
    a null ts last; rows with a null or NaN value are skipped."""
    import math

    state, out = {}, []
    for rows in batches:
        for uid, ev_id, ts, v in sorted(rows, key=lambda r: (r[2] is None, r[2] or dt.datetime.min, r[1])):
            if v is None or math.isnan(v):
                continue
            n, mean, m2 = state.get(uid, (0, 0.0, 0.0))
            sd = (m2 / (n - 1)) ** 0.5 if n > 1 else 0.0
            z = (v - mean) / sd if n >= min_obs and sd > 0 else 0.0
            out.append((uid, ev_id, v, round(z, 4), n >= min_obs and abs(z) > threshold))
            n += 1
            delta = v - mean
            mean += delta / n
            state[uid] = (n, mean, m2 + delta * (v - mean))
    return out


def test_anomaly_zscore_orders_a_key_split_across_arrow_chunks(spark, tmp_path):
    """A key with more rows in one micro-batch than
    ``arrow.maxRecordsPerBatch`` reaches the Welford update as several
    Arrow chunks. The whole batch must still be replayed in (ts, event_id)
    order: every z-score and flag equals a Welford replay over the sorted
    events, even though the file's row order is not time order."""
    import random

    from market_data_pipeline_spark.streaming import jobs, stateful

    rnd = random.Random(5)
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    events = [
        (3, i, t + dt.timedelta(seconds=i), 10.0 + rnd.gauss(0, 1) + (8.0 if i % 13 == 12 else 0.0))
        for i in range(40)
    ]
    rows = events[:]
    rnd.shuffle(rows)
    schema = "user_id long, event_id long, ts timestamp, value double"
    src = str(tmp_path / "chunks_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        flagged = stateful.streaming_anomaly_zscore(stream, threshold=2.0, min_obs=10)
        got = {
            r.event_id: (r.zscore, r.is_anomaly)
            for r in jobs.run_stream_to_memory(spark, flagged, "anom_chunks", "append").collect()
        }
    finally:
        spark.conf.set(key, prev)

    want = {r[1]: (r[3], r[4]) for r in _welford_replay([events], threshold=2.0, min_obs=10)}
    assert got == want
    assert any(flag for _, flag in want.values())


def test_anomaly_zscore_equals_sequential_replay_on_adversarial_rows(spark, tmp_path):
    """The stream sends Python only the columns it replays, with ts as epoch
    microseconds. Its output must still equal a sequential Welford replay
    row for row, over two runs of one checkpoint, on input built to break
    that: null ts rows (replayed last), equal ts values whose event_ids
    arrive out of order, null and NaN values, a null key, extra string and
    timestamp columns, and a key split over several Arrow chunks."""
    import random

    from market_data_pipeline_spark.streaming import jobs, stateful

    rnd = random.Random(11)
    t = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rows(uid, ids, start):
        out = []
        for i in ids:
            ts = None if i % 17 == 5 else t + dt.timedelta(seconds=start + i // 3)
            v = 10.0 + rnd.gauss(0, 1) + (9.0 if i % 11 == 10 else 0.0)
            v = None if i % 13 == 4 else float("nan") if i % 19 == 7 else v
            out.append((uid, i, ts, v))
        return out

    # three events share each ts, and write() shuffles the rows
    batch1 = rows(7, range(45), 0)
    batch1 += rows(8, range(100, 106), 0) + rows(None, range(200, 204), 0)
    batch2 = rows(7, range(45, 70), -30) + rows(8, range(106, 120), 3) + rows(None, range(204, 215), 0)
    schema = "user_id long, event_id long, ts timestamp, value double, event_type string, props string, seen_at timestamp"

    def write(batch, name):
        extra = [r + (rnd.choice(["click", "view"]), f'{{"i": {r[1]}}}', t) for r in batch]
        rnd.shuffle(extra)
        spark.createDataFrame(extra, schema).coalesce(1).write.parquet(str(tmp_path / "src" / name))

    def run():
        stream = spark.readStream.schema(schema).parquet(str(tmp_path / "src" / "*"))
        with jobs.stream_width(spark):
            q = (
                stateful.streaming_anomaly_zscore(stream, threshold=2.0, min_obs=5)
                .writeStream.format("parquet")
                .option("path", str(tmp_path / "out"))
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        write(batch1, "b1")
        run()
        write(batch2, "b2")
        run()
    finally:
        spark.conf.set(key, prev)

    got = sorted(
        (tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect()),
        key=lambda r: r[1],
    )
    want = sorted(_welford_replay([batch1, batch2], threshold=2.0, min_obs=5), key=lambda r: r[1])
    assert got == want
    assert any(r[4] for r in want) and any(r[0] is None for r in want)
    # a null-ts row with a value is replayed, not skipped
    assert any(ts is None and v is not None and v == v for _, _, ts, v in batch1)


def _zscore_batch(b, rnd):
    """Micro-batch ``b`` of a z-score stream: 10 events for each of 6 keys,
    unique event ids, the last event of each key a spike."""
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    return [
        (
            u,
            1000 * b + 10 * u + i,
            t + dt.timedelta(minutes=10 * b + i),
            10.0 + rnd.gauss(0, 1) + (6.0 if i == 9 else 0.0),
        )
        for u in range(6)
        for i in range(10)
    ]


_ZSCORE_SCHEMA = "user_id long, event_id long, ts timestamp, value double"


def _start_zscore(spark, src, out, ckpt):
    """Start the z-score stream over the parquet files under ``src`` into a
    parquet sink; returns the query and the stream width it started at."""
    from market_data_pipeline_spark.streaming import jobs, stateful

    stream = spark.readStream.schema(_ZSCORE_SCHEMA).parquet(src)
    with jobs.stream_width(spark) as width:
        q = (
            stateful.streaming_anomaly_zscore(stream, threshold=2.0, min_obs=5)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q, width


def test_stream_width_rule_and_override(spark, tmp_path, monkeypatch):
    """The state width is min(8, task slots) unless an integer override
    says otherwise, and a stateful stream started inside ``stream_width``
    runs at that width; the session's own width comes back afterwards,
    also when the body raises."""
    import random

    from market_data_pipeline_spark.streaming import jobs, monitor

    rule = min(8, spark.sparkContext.defaultParallelism)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    assert jobs.stream_shuffle_partitions() == rule
    for raw, want in (("5", 5), ("0", 1), ("abc", rule)):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", raw)
        assert jobs.stream_shuffle_partitions() == want, raw
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS")

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with jobs.stream_width(spark):
            raise RuntimeError("body failed")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    src = str(tmp_path / "src")
    spark.createDataFrame(_zscore_batch(0, random.Random(2)), _ZSCORE_SCHEMA).write.parquet(src)
    q, width = _start_zscore(spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert width == rule
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == width
    assert {r["state_partitions"] for r in monitor.progress_rows(q)} == {width}


def test_stream_width_is_durable_across_restart(spark, tmp_path, monkeypatch):
    """A stateful query keeps the width its checkpoint was created with: a
    z-score stream started with the override at 3 and restarted without it
    still runs 3 state partitions, whatever the slot rule gives on this
    host, and every emitted z-score equals the sequential Welford replay."""
    import random

    rnd = random.Random(9)
    batches = [_zscore_batch(0, rnd), _zscore_batch(1, rnd)]
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    spark.createDataFrame(batches[0], _ZSCORE_SCHEMA).coalesce(1).write.parquet(f"{src}/b1")
    q, width = _start_zscore(spark, f"{src}/*", out, ckpt)
    assert width == 3 and q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 3

    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS")
    spark.createDataFrame(batches[1], _ZSCORE_SCHEMA).coalesce(1).write.parquet(f"{src}/b2")
    q, _ = _start_zscore(spark, f"{src}/*", out, ckpt)
    assert q.lastProgress["numInputRows"] == len(batches[1])
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 3

    got = sorted((tuple(r) for r in spark.read.parquet(out).collect()), key=lambda r: r[1])
    want = sorted(_welford_replay(batches, threshold=2.0, min_obs=5), key=lambda r: r[1])
    assert got == want
    assert any(r[4] for r in want if r[1] >= 1000)  # the restarted batch flags spikes


def test_state_function_error_reaches_driver_with_traceback(spark, tmp_path):
    """An exception raised inside an ``applyInPandasWithState`` function
    fails the query, and the driver sees its message and Python traceback
    (the worker daemon's warning filter hides nothing else)."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from market_data_pipeline_spark.streaming import jobs

    def boom(key, pdfs, state):
        raise ValueError(f"state function failed on key {key[0]}")

    src = str(tmp_path / "src")
    spark.createDataFrame([(7, 1.0)], "user_id long, value double").write.parquet(src)
    out = (
        spark.readStream.schema("user_id long, value double")
        .parquet(src)
        .groupBy("user_id")
        .applyInPandasWithState(boom, "user_id long", "n long", "append", GroupStateTimeout.NoTimeout)
    )
    with jobs.stream_width(spark):
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException) as err:
            q.awaitTermination()
    msg = str(err.value)
    assert "state function failed on key 7" in msg and "Traceback" in msg, msg[-2000:]


def test_stateful_operators_send_python_only_replayed_columns(spark, sf_dir):
    """Every column of the stateful operator's child crosses into Python,
    converted from Arrow to pandas for each group: the child holds only the
    replayed columns, and no string or timestamp among them."""
    from market_data_pipeline_spark.streaming import jobs, stateful

    ev = jobs.stream_events(spark, sf_dir)
    assert {"event_type", "props"} <= set(ev.columns)
    ops = [
        (stateful.streaming_anomaly_zscore(ev), 4),
        (stateful.streaming_cusum(ev.withColumns({"mean": F.lit(0.0), "std": F.lit(1.0)})), 6),
        (stateful.running_totals(ev), 2),
    ]
    for out, width in ops:
        node = out._jdf.queryExecution().analyzed()
        while node.nodeName() != "FlatMapGroupsInPandasWithState":
            node = node.children().apply(0)
        cols = node.child().output()
        types = [cols.apply(i).dataType().typeName() for i in range(cols.size())]
        assert len(types) == width, types
        assert not {"string", "timestamp", "timestamp_ntz"} & set(types), types

def test_checkpoint_file_manager_never_overwrites(spark, tmp_path):
    """Checkpoint files go through the FileSystem-based manager, which keeps
    the guarantees exactly-once rests on: a second no-overwrite atomic
    create of an existing file fails and leaves the first content, and a
    cancelled create leaves nothing at its final path."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path(f"file:{tmp_path}"), spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert mgr.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    def create(name, payload):
        out = mgr.createAtomic(path(f"file:{tmp_path}/{name}"), False)
        out.write(payload)
        return out

    create("0", b"first").close()
    second = create("0", b"second")
    with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"first"

    create("1", b"never").cancel()
    assert not (tmp_path / "1").exists()


def test_streaming_sessionize_matches_batch_twin(spark, sf_dir):
    """Streamed sessions (gap splits + watermark timeouts) must equal the
    batch sessionization minus each user's still-open last session, unless
    that session was timed out by the final watermark."""
    from market_data_pipeline_spark.operators import behavior
    from market_data_pipeline_spark.sources.tables import load_table
    from market_data_pipeline_spark.streaming import jobs, stateful

    ev = jobs.stream_events(spark, sf_dir).select("user_id", "ts", "value")
    sess = stateful.streaming_sessionize(ev, gap_minutes=30, watermark="10 minutes")
    got = jobs.run_stream_to_memory(spark, sess, "sess_twin", output_mode="append")

    batch_ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    allsess = behavior.sessionize(batch_ev, gap_minutes=30)
    wm = batch_ev.agg(
        (F.max("ts").cast("long") - F.lit(600)).alias("w")
    ).collect()[0].w
    from pyspark.sql import Window

    lastseq = Window.partitionBy("user_id")
    want = (
        allsess.withColumn("__last", F.max("session_seq").over(lastseq))
        .filter(
            (F.col("session_seq") < F.col("__last"))
            | (F.col("session_end").cast("long") + 1800 < F.lit(wm))
        )
        .drop("__last")
    )
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows == want_rows and len(got_rows) > 0


def test_progress_monitor_extracts_state_and_watermark(spark, sf_dir, tmp_path):
    """The monitor must see real numbers from a stateful stream: input rows,
    a stateful operator with state rows, the state width the query started
    with, and an advancing watermark."""
    from market_data_pipeline_spark.streaming import jobs, monitor

    ev = jobs.stream_events(spark, sf_dir)
    agg = jobs.tumbling_window_agg(ev, width="1 hour", watermark="2 hours")
    with jobs.stream_width(spark) as width:
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("mon_probe")
            .option("checkpointLocation", str(tmp_path / "mon_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    rows = monitor.progress_rows(q)
    assert len(rows) >= 1
    assert sum(r["num_input_rows"] for r in rows) > 0
    assert any(r["n_state_operators"] > 0 for r in rows)
    assert {r["state_partitions"] for r in rows if r["n_state_operators"] > 0} == {width}
    assert any(r["watermark"] for r in rows)
    for r in rows:
        for k in (
            "latest_offset_ms",
            "query_planning_ms",
            "add_batch_ms",
            "wal_commit_ms",
            "commit_offsets_ms",
            "state_commit_ms",
        ):
            assert r[k] >= 0, k
    flags = monitor.health_flags(rows, max_batch_ms=10 * 60 * 1000)
    assert flags["total_input_rows"] > 0 and flags["slow_batches"] == []


def test_sessionize_state_survives_query_restart(spark, tmp_path):
    """An OPEN session spanning a full query restart must be extended by
    post-restart events (state recovered from checkpoint), then emitted
    once by watermark timeout as ONE merged session — not two fragments."""
    from market_data_pipeline_spark.streaming import jobs, stateful

    src = str(tmp_path / "sess_src")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, ts timestamp, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        sess = stateful.streaming_sessionize(stream, gap_minutes=30, watermark="1 minute")
        with jobs.stream_width(spark):
            q = (
                sess.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # run 1: two events 10 min apart — session stays open (watermark
    # reaches only ts+9min, far before end+gap)
    write([(1, t, 1.0), (1, t + dt.timedelta(minutes=10), 2.0)])
    run_once()
    # query DOWN; a third event 10 min later continues the SAME session,
    # and a far-future event advances the watermark past its timeout
    write([(1, t + dt.timedelta(minutes=20), 3.0), (2, t + dt.timedelta(hours=5), 9.0)])
    run_once()

    rows = spark.read.parquet(out).collect()
    sessions = [r for r in rows if r.user_id == 1]
    assert len(sessions) == 1  # one merged session, not two fragments
    s = sessions[0]
    assert s.n_events == 3
    assert s.session_start == t and s.session_end == t + dt.timedelta(minutes=20)
    assert s.duration_s == 1200 and abs(s.total_value - 6.0) < 1e-9


def test_sessionize_seq_survives_timeout_eviction(spark, tmp_path):
    """ADVICE r1: after a session is evicted by event-time timeout, a
    returning user must CONTINUE the session ordinal (seq 2), not re-emit
    (user_id, 1) — the tombstone state keeps the counter across eviction."""
    from market_data_pipeline_spark.streaming import jobs, stateful

    src = str(tmp_path / "seq_src")
    out = str(tmp_path / "seq_out")
    ckpt = str(tmp_path / "seq_ckpt")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, ts timestamp, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        sess = stateful.streaming_sessionize(stream, gap_minutes=30, watermark="1 minute")
        with jobs.stream_width(spark):
            q = (
                sess.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # run 1: user 1 session (2 events) + a far-future row advancing the
    # watermark past end+gap → session 1 is emitted and state evicted
    write(
        [
            (1, t, 1.0),
            (1, t + dt.timedelta(minutes=10), 2.0),
            (99, t + dt.timedelta(hours=5), 0.0),
        ]
    )
    run_once()
    # run 2: user 1 RETURNS (inside the seq-retention horizon), then another
    # watermark advance flushes the new session too
    write(
        [
            (1, t + dt.timedelta(hours=6), 3.0),
            (999, t + dt.timedelta(hours=12), 0.0),
        ]
    )
    run_once()

    rows = sorted(
        (r for r in spark.read.parquet(out).collect() if r.user_id == 1),
        key=lambda r: r.session_start,
    )
    assert [r.session_seq for r in rows] == [1, 2], (
        "session ids must stay unique across timeout eviction"
    )
    assert rows[0].n_events == 2 and rows[1].n_events == 1
    # keys are unique overall (no duplicate (user_id, seq) in append output)
    allrows = spark.read.parquet(out).collect()
    keys = [(r.user_id, r.session_seq) for r in allrows]
    assert len(keys) == len(set(keys))


def test_sessionize_backdated_event_extends_session_start(spark, tmp_path):
    """ADVICE r1: a late-but-in-watermark event EARLIER than the open
    session's start must pull session_start back (min), not be silently
    folded in with the old start."""
    from market_data_pipeline_spark.streaming import jobs, stateful

    src = str(tmp_path / "bd_src")
    out = str(tmp_path / "bd_out")
    ckpt = str(tmp_path / "bd_ckpt")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, ts timestamp, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        sess = stateful.streaming_sessionize(stream, gap_minutes=30, watermark="10 minutes")
        with jobs.stream_width(spark):
            q = (
                sess.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # batch 1: session opens at t+10m (watermark ends up at t exactly)
    write([(1, t + dt.timedelta(minutes=10), 1.0)])
    run_once()
    # batch 2: a BACKDATED event at t+5m (>= watermark t, within gap) merges
    # and extends the session start backward; then a flush row
    write([(1, t + dt.timedelta(minutes=5), 2.0)])
    run_once()
    write([(42, t + dt.timedelta(hours=9), 0.0)])
    run_once()

    rows = [r for r in spark.read.parquet(out).collect() if r.user_id == 1]
    assert len(rows) == 1
    s = rows[0]
    assert s.session_start == t + dt.timedelta(minutes=5), "start must move back"
    assert s.session_end == t + dt.timedelta(minutes=10)
    assert s.n_events == 2 and s.duration_s == 300


def test_sessionize_beyond_gap_backdated_event_is_own_session(spark, tmp_path):
    """A late-but-in-watermark event MORE than gap before the open session's
    start must become its own (earlier) closed session — the batch twin
    would split there — never drag session_start across a multi-hour hole."""
    from market_data_pipeline_spark.streaming import jobs, stateful

    src = str(tmp_path / "bg_src")
    out = str(tmp_path / "bg_out")
    ckpt = str(tmp_path / "bg_ckpt")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, ts timestamp, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        sess = stateful.streaming_sessionize(stream, gap_minutes=30, watermark="6 hours")
        with jobs.stream_width(spark):
            q = (
                sess.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # batch 1: open session at 12:00 (watermark lag 6h keeps 09:00 on-time)
    write([(1, t, 1.0)])
    run_once()
    # batch 2: backdated 09:00 event (3h before start, >> 30min gap)
    write([(1, t - dt.timedelta(hours=3), 2.0)])
    run_once()
    # flush everything
    write([(42, t + dt.timedelta(days=2), 0.0)])
    run_once()

    rows = sorted(
        (r for r in spark.read.parquet(out).collect() if r.user_id == 1),
        key=lambda r: r.session_start,
    )
    assert len(rows) == 2, f"expected split sessions, got {rows}"
    early, late = rows
    assert early.session_start == early.session_end == t - dt.timedelta(hours=3)
    assert early.n_events == 1
    assert late.session_start == t and late.n_events == 1
    seqs = {r.session_seq for r in rows}
    assert len(seqs) == 2  # unique ordinals


def test_streaming_ohlcv_bars_match_batch_interval_bars(spark, sf_dir):
    """Streamed 4h candles (append mode) must equal the batch interval-bar
    derivation for every window the final watermark finalized."""
    from market_data_pipeline_spark.sources.tables import (
        bars_from_events_interval,
        load_table,
    )
    from market_data_pipeline_spark.streaming import jobs

    ev = jobs.stream_events(spark, sf_dir).select("user_id", "ts", "value")
    got_df = jobs.run_stream_to_memory(
        spark,
        jobs.streaming_ohlcv_bars(ev, width="4 hours", watermark="2 hours"),
        "ohlcv_stream",
        output_mode="append",
    )
    got = {tuple(r) for r in got_df.collect()}

    batch = bars_from_events_interval(spark, sf_dir, width="4 hours")
    wm = (
        load_table(spark, sf_dir, "events")
        .agg((F.max("ts").cast("long") - F.lit(7200)).alias("w"))
        .collect()[0]
        .w
    )
    finalized = batch.filter(
        (F.col("bar_start").cast("long") + 4 * 3600) <= F.lit(wm)
    )
    want = {tuple(r) for r in finalized.collect()}
    assert got == want and len(got) > 0


def test_streaming_cms_maintenance_is_exact_across_batches(spark, tmp_path):
    """CMS is a linear sketch: counters merged batch-by-batch equal the
    counters of all events at once — the streaming store after two batches
    must be IDENTICAL to a one-shot batch sketch over the union."""
    from market_data_pipeline_spark.operators.quality import cms_counters
    from market_data_pipeline_spark.sources import tablefmt as tf
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "ev_src")
    store = str(tmp_path / "cms_store")
    ckpt = str(tmp_path / "cms_ckpt")
    schema = "user_id long"

    def write(ids):
        spark.createDataFrame([(i,) for i in ids], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = jobs.streaming_cms_maintenance(
            stream, store, ckpt, key_col="user_id", width=64, depth=2
        )
        q.awaitTermination()

    b1 = [1, 2, 2, 3, 3, 3]
    b2 = [3, 4, 4, 1]
    write(b1)
    run_once()
    write(b2)
    run_once()

    got = {
        (r.row, r.bucket): r.cnt for r in tf.read(spark, store).collect()
    }
    want_df = cms_counters(
        spark.createDataFrame([(i,) for i in b1 + b2], schema),
        "user_id",
        width=64,
        depth=2,
    )
    want = {(r.row, r.bucket): r.cnt for r in want_df.collect()}
    assert got == want
    assert sum(got.values()) == 2 * len(b1 + b2)  # depth × events mass


def test_streaming_hll_maintenance_equals_one_shot_sketch(spark, tmp_path):
    """HLL unions are order-insensitive: the sketch store merged batch by
    batch must estimate exactly what a one-shot sketch over the union
    estimates, per key."""
    from pyspark.sql import functions as F

    from market_data_pipeline_spark.sources import tablefmt as tf
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "hll_src")
    store = str(tmp_path / "hll_store")
    ckpt = str(tmp_path / "hll_ckpt")
    schema = "event_type string, user_id long"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = jobs.streaming_hll_maintenance(stream, store, ckpt)
        q.awaitTermination()

    b1 = [("click", i) for i in range(40)] + [("buy", i) for i in range(5)]
    b2 = [("click", i) for i in range(20, 60)] + [("buy", 99)]
    write(b1)
    run_once()
    write(b2)
    run_once()

    got = {
        r.event_type: r.est
        for r in tf.read(spark, store)
        .select("event_type", F.hll_sketch_estimate("sk").alias("est"))
        .collect()
    }
    want = {
        r.event_type: r.est
        for r in spark.createDataFrame(b1 + b2, schema)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert got == want
    # 60 distinct clickers, 6 distinct buyers — HLL exact at this cardinality
    assert got["click"] == 60 and got["buy"] == 6


def test_sessionize_eviction_replay_three_batches(spark, tmp_path):
    """r2 verdict #8: multi-batch out-of-order replay where a timeout fires
    between EVERY batch and a late in-gap event arrives AFTER an eviction.

    Three user-1 sessions, one per batch, each batch internally out of
    order and each followed by a watermark advance that evicts the open
    session before the next batch runs. Batches 2 and 3 also carry a late
    event INSIDE the gap window of the just-evicted session — those rows
    are below the watermark by then, so the engine must drop them (the
    emitted session is final; no retraction, no duplicate, no merge) and
    the seq counter must keep advancing 1→2→3 across every eviction."""
    from market_data_pipeline_spark.streaming import jobs, stateful

    src = str(tmp_path / "ev3_src")
    out = str(tmp_path / "ev3_out")
    ckpt = str(tmp_path / "ev3_ckpt")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, ts timestamp, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        sess = stateful.streaming_sessionize(stream, gap_minutes=30, watermark="1 minute")
        with jobs.stream_width(spark):
            q = (
                sess.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    h = dt.timedelta(hours=1)
    m = dt.timedelta(minutes=1)
    # batch 1: session 1 = {12:10, 12:00} delivered OUT OF ORDER, then a
    # flusher at 17:00 -> watermark ~16:59 >> 12:10+gap, so session 1 evicts
    write([(1, t + 10 * m, 2.0), (1, t, 1.0), (99, t + 5 * h, 0.0)])
    run_once()
    # batch 2: session 2 = {18:00, 17:55} out of order, PLUS a late in-gap
    # replay at 12:20 (inside evicted session 1's gap window but far below
    # the ~16:59 watermark -> must be dropped, not merged or re-emitted);
    # flusher at 24:00 evicts session 2
    write(
        [
            (1, t + 6 * h, 8.0),
            (1, t + 20 * m, 100.0),  # 12:20 late in-gap replay
            (1, t + 6 * h - 5 * m, 4.0),
            (999, t + 12 * h, 0.0),
        ]
    )
    run_once()
    # batch 3: session 3 = one event at 23:00-next-day-ish, plus a late
    # in-gap replay at 18:10 against evicted session 2 (below watermark
    # ~23:59 -> dropped); flusher two days out evicts session 3
    write(
        [
            (1, t + 26 * h, 16.0),
            (1, t + 6 * h + 10 * m, 100.0),  # 18:10 late replay
            (1000, t + 72 * h, 0.0),
        ]
    )
    run_once()
    # final empty-data pass so the last watermark advance fires the timeout
    write([(1001, t + 96 * h, 0.0)])
    run_once()

    rows = sorted(
        (r for r in spark.read.parquet(out).collect() if r.user_id == 1),
        key=lambda r: r.session_start,
    )
    assert [r.session_seq for r in rows] == [1, 2, 3], rows
    assert [r.n_events for r in rows] == [2, 2, 1], rows
    # the 100.0-valued late replays must not appear in ANY session rollup
    assert [r.total_value for r in rows] == [3.0, 12.0, 16.0], rows
    assert rows[0].session_start == t and rows[0].session_end == t + 10 * m
    assert rows[1].session_start == t + 6 * h - 5 * m
    assert rows[2].duration_s == 0
    # unique (user_id, seq) keys across the whole append output
    allrows = spark.read.parquet(out).collect()
    keys = [(r.user_id, r.session_seq) for r in allrows]
    assert len(keys) == len(set(keys))


def test_sketch_store_replayed_batch_is_not_double_applied(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the store commit and
    the checkpoint commit REPLAYS the batch with the same id under the
    same query id. Deleting ``<ckpt>/commits/0`` is that crash: the rerun
    re-executes batch 0, and the batch id recorded in the store's
    manifest must make it a no-op — the CMS counters must NOT double."""
    import os

    from market_data_pipeline_spark.operators.quality import cms_counters
    from market_data_pipeline_spark.sources import tablefmt as tf
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "rp_src")
    store = str(tmp_path / "rp_store")
    ckpt = str(tmp_path / "rp_ckpt")
    schema = "user_id long"
    b1 = [1, 2, 2, 3, 3, 3]
    spark.createDataFrame([(i,) for i in b1], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = jobs.streaming_cms_maintenance(
            stream, store, ckpt, key_col="user_id", width=64, depth=2
        )
        q.awaitTermination()

    run_once()
    want = {
        (r.row, r.bucket): r.cnt
        for r in cms_counters(
            spark.createDataFrame([(i,) for i in b1], schema), "user_id", width=64, depth=2
        ).collect()
    }
    got1 = {(r.row, r.bucket): r.cnt for r in tf.read(spark, store).collect()}
    assert got1 == want
    n_versions = len(tf.history(spark, store))

    os.remove(os.path.join(ckpt, "commits", "0"))
    run_once()
    got2 = {(r.row, r.bucket): r.cnt for r in tf.read(spark, store).collect()}
    assert got2 == want, "replayed batch 0 was double-applied"
    assert len(tf.history(spark, store)) == n_versions
    # Spark did re-run batch 0: its commit marker is back
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))


def test_sketch_store_gc_keeps_newest_two_versions(spark, tmp_path):
    """Version GC: after three committed batches the store keeps two
    snapshots, still knows all three batch ids (the vacuum sidecar), and
    the reader resolves the newest."""
    import json
    import os

    from market_data_pipeline_spark.sources import tablefmt as tf
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "gc_src")
    store = str(tmp_path / "gc_store")
    ckpt = str(tmp_path / "gc_ckpt")
    schema = "user_id long"

    def write_and_run(ids):
        spark.createDataFrame([(i,) for i in ids], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = jobs.streaming_cms_maintenance(
            stream, store, ckpt, key_col="user_id", width=64, depth=2
        )
        q.awaitTermination()

    write_and_run([1])
    write_and_run([2])
    write_and_run([3])
    assert len(tf.history(spark, store)) == 2
    with open(os.path.join(ckpt, "metadata")) as fh:
        app = "sketch-" + json.load(fh)["id"]
    assert tf.committed_batches(spark, store, app) == {0, 1, 2}
    got_mass = sum(r.cnt for r in tf.read(spark, store).collect())
    assert got_mass == 2 * 3  # depth × all events ever seen


def test_streaming_jsonl_ingest_exactly_once_two_runs(spark, tmp_path):
    """Crawl-drop ingestion: files land incrementally, good rows append to
    a versioned table, bad lines to a quarantine table, and a second run
    over the same checkpoint picks up only NEW files (no duplicates)."""
    from pyspark.sql import types as T

    from market_data_pipeline_spark.sources import tablefmt as tf
    from market_data_pipeline_spark.streaming.jobs import streaming_jsonl_ingest

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]
    )
    (in_dir / "a.jsonl").write_text(
        '{"id": 1, "text": "one"}\nBROKEN\n{"id": 2, "text": "two"}'
    )
    args = (
        spark,
        str(in_dir),
        schema,
        str(tmp_path / "table"),
        str(tmp_path / "quarantine"),
        str(tmp_path / "ckpt"),
    )
    q = streaming_jsonl_ingest(*args)
    q.awaitTermination(120)
    assert sorted(
        (r["id"], r["text"]) for r in tf.read(spark, str(tmp_path / "table")).collect()
    ) == [(1, "one"), (2, "two")]
    assert [r["raw_line"] for r in tf.read(spark, str(tmp_path / "quarantine")).collect()] == [
        "BROKEN"
    ]

    # second drop + second availableNow run over the SAME checkpoint:
    # only the new file is processed, nothing duplicates
    (in_dir / "b.jsonl").write_text('{"id": 3, "text": "three"}')
    q2 = streaming_jsonl_ingest(*args)
    q2.awaitTermination(120)
    assert sorted(
        r["id"] for r in tf.read(spark, str(tmp_path / "table")).collect()
    ) == [1, 2, 3]
    assert tf.read(spark, str(tmp_path / "quarantine")).count() == 1


def test_streaming_dedup_admission_into_versioned_table(spark, tmp_path):
    """Corpus admission into a versioned TABLE: in-batch exact dups keep
    the lowest id, a later batch's exact and near dups of admitted docs
    are rejected against the table, each admitted batch is a
    time-travelable version carrying its batch id as txn, and a replay
    with a fresh checkpoint admits nothing twice."""
    from market_data_pipeline_spark.sources import tablefmt as tf
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "docs_src")
    table = str(tmp_path / "corpus_table")
    schema = "doc_id long, text string"

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest before sunset arrives tonight"
    )
    other = (
        "completely different subject matter entirely about spark shuffle "
        "partitions and adaptive query execution at massive scale"
    )

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once(ckpt):
        stream = spark.readStream.schema(schema).parquet(src)
        q = jobs.streaming_dedup_admission_table(stream, table, ckpt)
        q.awaitTermination()

    ckpt = str(tmp_path / "ck1")
    write([(1, base), (2, other), (3, base)])
    run_once(ckpt)
    assert {r.doc_id for r in tf.read(spark, table).collect()} == {1, 2}

    near = base.replace("green", "golden")
    brand_new = (
        "tabular training data curation requires deduplication language "
        "identification quality scoring and careful mixture weighting"
    )
    write([(10, base), (11, near), (12, brand_new)])
    run_once(ckpt)
    assert {r.doc_id for r in tf.read(spark, table).collect()} == {1, 2, 12}

    # versions: one stream-append per admitted batch; txn ids recorded
    # under THIS lineage's writer identity (the streaming query id
    # persisted in the checkpoint), not the default app
    import json

    with open(ckpt + "/metadata") as fh:
        app = "admit-" + json.load(fh)["id"]
    hist = tf.history(spark, table)
    assert [h["op"] for h in hist] == ["stream-append", "stream-append"]
    assert len(tf.committed_batches(spark, table, app)) == 2

    # replay the whole source with a FRESH checkpoint: the writer
    # identity derives from the checkpoint's persisted query id, so this
    # is a NEW app whose batch numbering may not line up with the old one — its
    # batches re-run the admission checks (never skipped on a colliding
    # id, which would silently drop genuinely new data) and every
    # already-stored document is rejected by CONTENT: the table's doc
    # set must not change, and any versions the replay commits are
    # empty stream-appends recording the new lineage's batch ids
    n_before = len(tf.history(spark, table))
    run_once(str(tmp_path / "ck2"))
    assert {r.doc_id for r in tf.read(spark, table).collect()} == {1, 2, 12}
    hist = tf.history(spark, table)
    assert all(h["op"] == "stream-append" for h in hist)
    assert len(hist) >= n_before
    # batch ids are scoped per writer identity: the original lineage's
    # ids live under its own app, not the default
    assert tf.committed_batches(spark, table) == set()

    # same-lineage restart (the ORIGINAL checkpoint, no new data): the
    # file source has nothing new, so no admission work and no version
    n_now = len(tf.history(spark, table))
    run_once(ckpt)
    assert len(tf.history(spark, table)) == n_now

    # time travel: version 0 is exactly batch 1's admitted set
    assert {r.doc_id for r in tf.read(spark, table, version=0).collect()} == {1, 2}

    # in-place checkpoint recreation (delete + recreate at the SAME
    # path): batch numbering restarts at 0, but the persisted query id
    # regenerates with the checkpoint, so the new incarnation is a NEW
    # writer identity — its batch 0, carrying a never-seen document,
    # must NOT be skipped against the old lineage's recorded batch 0
    # (the silent-drop hazard of a path-derived identity)
    import shutil

    shutil.rmtree(ckpt)
    fresh_doc = (
        "a never before seen document about the hazards of reusing "
        "checkpoint paths for exactly once writer identities"
    )
    write([(20, fresh_doc)])
    run_once(ckpt)
    assert {r.doc_id for r in tf.read(spark, table).collect()} == {1, 2, 12, 20}


def test_streaming_latest_state_table_upserts_per_key(spark, tmp_path):
    """End-to-end CDC-apply: a file stream of ticks maintains a
    latest-per-symbol state table through the exactly-once merge sink —
    in-batch disorder resolves by max_by(event time), later batches
    REPLACE rows by key, and versions stay time-travelable."""
    from market_data_pipeline_spark.sources import tablefmt as tf
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "ticks")
    table = str(tmp_path / "quote_state")
    ckpt = str(tmp_path / "ck")
    schema = "symbol string, ts long, price double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = jobs.streaming_latest_state_table(
            stream, table, ckpt, keys=["symbol"], time_col="ts"
        )
        q.awaitTermination()

    # batch 1: out-of-order ticks within the batch
    write([("AAA", 3, 10.3), ("AAA", 1, 10.1), ("BBB", 5, 20.5)])
    run_once()
    got = {r.symbol: (r.ts, r.price) for r in tf.read(spark, table).collect()}
    assert got == {"AAA": (3, 10.3), "BBB": (5, 20.5)}

    # batch 2: AAA advances, CCC appears, BBB silent (kept)
    write([("AAA", 9, 11.9), ("CCC", 2, 30.2)])
    run_once()
    got = {r.symbol: (r.ts, r.price) for r in tf.read(spark, table).collect()}
    assert got == {"AAA": (9, 11.9), "BBB": (5, 20.5), "CCC": (2, 30.2)}

    # version history: bootstrap append then merge; v0 still readable
    ops = [h["op"] for h in tf.history(spark, table)]
    assert ops[0] == "stream-append" and "merge" in ops
    assert {r.symbol for r in tf.read(spark, table, version=0).collect()} == {
        "AAA",
        "BBB",
    }

    # same-checkpoint restart with no new files: no new version
    n = len(tf.history(spark, table))
    run_once()
    assert len(tf.history(spark, table)) == n


def test_streaming_latest_state_checkpoint_reset_not_skipped(spark, tmp_path):
    """Deleting and recreating the checkpoint restarts batch numbering at
    0 — the new lineage's batch 0 must NOT be skipped against the old
    lineage's recorded txn id (the writer identity derives from the
    checkpoint's persisted query id, so each incarnation is distinct)."""
    import shutil

    from market_data_pipeline_spark.sources import tablefmt as tf
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "ticks")
    table = str(tmp_path / "state")
    ckpt = str(tmp_path / "ck")
    schema = "symbol string, ts long, price double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        jobs.streaming_latest_state_table(
            stream, table, ckpt, keys=["symbol"], time_col="ts"
        ).awaitTermination()

    write([("AAA", 1, 10.0)])
    run_once()  # old lineage batch 0
    shutil.rmtree(ckpt)
    write([("BBB", 2, 20.0)])
    run_once()  # new lineage batch 0 — carries BOTH files
    got = {r.symbol: r.price for r in tf.read(spark, table).collect()}
    assert got == {"AAA": 10.0, "BBB": 20.0}


def test_streaming_latest_state_cdc_tombstones(spark, tmp_path):
    """CDC change feed: tombstone rows DELETE their keys, upserts and
    deletes commit atomically in one txn, newest-event-wins resolves an
    upsert-then-delete inside one batch, and a replayed batch skips the
    whole change set."""
    from market_data_pipeline_spark.sources import tablefmt as tf
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "changes")
    table = str(tmp_path / "state")
    ckpt = str(tmp_path / "ck")
    schema = "symbol string, ts long, price double, op string"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        jobs.streaming_latest_state_table(
            stream, table, ckpt, keys=["symbol"], time_col="ts", op_col="op"
        ).awaitTermination()

    # batch 1: two upserts; CCC gets upserted then tombstoned IN-BATCH
    # (newest event wins -> never lands); a tombstone for a key the
    # table never had is a no-op
    write(
        [
            ("AAA", 1, 10.0, "u"),
            ("BBB", 2, 20.0, "u"),
            ("CCC", 3, 30.0, "u"),
            ("CCC", 4, 0.0, "d"),
            ("ZZZ", 1, 0.0, "d"),
        ]
    )
    run_once()
    got = {r.symbol: r.price for r in tf.read(spark, table).collect()}
    assert got == {"AAA": 10.0, "BBB": 20.0}

    # batch 2: delete AAA, update BBB, add DDD — one atomic merge commit
    n_versions = len(tf.history(spark, table))
    write([("AAA", 9, 0.0, "d"), ("BBB", 9, 21.0, "u"), ("DDD", 9, 40.0, "u")])
    run_once()
    got = {r.symbol: r.price for r in tf.read(spark, table).collect()}
    assert got == {"BBB": 21.0, "DDD": 40.0}
    hist = tf.history(spark, table)
    assert len(hist) == n_versions + 1  # upserts + deletes in ONE version
    assert hist[-1]["op"] == "merge"

    # replay with the same checkpoint and no new files: nothing reapplies
    n = len(tf.history(spark, table))
    run_once()
    assert len(tf.history(spark, table)) == n
    # time travel still shows the pre-delete state
    v_prev = tf.read(spark, table, version=len(hist) - 2)
    assert "AAA" in {r.symbol for r in v_prev.collect()}


def test_streaming_cusum_equals_batch_fold(spark):
    """The streaming CUSUM's final per-key emission equals the batch
    F.aggregate fold run over the same series with the same baseline —
    the state machine IS the recursion."""
    import __spark_entry__ as entrymod
    from market_data_pipeline_spark.operators.indicators import cusum_alarms
    from market_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.n_obs, r.alarms_up, r.alarms_down)
        for r in entrymod.queries()["inv_st_cusum"](spark, sf).collect()
    }
    ev = (
        load_table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("user_id").alias("symbol"),
            F.col("ts").alias("d"),
            F.col("event_id"),
            F.col("value").alias("close"),
        )
    )
    # tiebreak_col=event_id: the stream replays equal-ts events in
    # (ts, event_id) order; the batch fold must sort the same way or the
    # two recursions diverge on duplicate timestamps (r6 ADVICE).
    want = {
        r.symbol: (r.n_obs, r.alarms_up, r.alarms_down)
        for r in cusum_alarms(ev, k=0.5, h=4.0, tiebreak_col="event_id").collect()
    }
    assert got == want and len(got) > 0


def test_streaming_heavy_hitters_equals_batch_sketch(spark):
    """The streaming CMS heavy-hitters query's output equals the batch
    sketch query's exactly: CMS is linear, so the exactly-once per-batch
    counter merges sum to the batch-scan counters, and the shared
    estimate join reads identical sketches — replay-equals-batch for the
    whole pipeline, not just the counter table."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    got = {
        r.user_id: (r.cms_estimate, r.exact_count, r.never_undercounts)
        for r in qs["inv_st_heavy_hitters"](spark, sf).collect()
    }
    want = {
        r.user_id: (r.cms_estimate, r.exact_count, r.never_undercounts)
        for r in qs["inv_q_cms_heavy_hitters"](spark, sf).collect()
    }
    assert got == want and len(got) > 0
    assert all(v[2] for v in got.values())  # no-false-negative property


def test_streaming_histogram_maintenance_is_exact_across_batches(spark, tmp_path):
    """Histogram counts are a linear sketch: bin counts merged batch-by-
    batch equal the one-shot batch histogram over the union — and the
    quantile read side picks the hand-computable bin edges."""
    from market_data_pipeline_spark.sources import tablefmt as tf
    from market_data_pipeline_spark.streaming import jobs

    src = str(tmp_path / "hv_src")
    store = str(tmp_path / "h_store")
    ckpt = str(tmp_path / "h_ckpt")
    schema = "value double"

    def write(vals):
        spark.createDataFrame([(float(v),) for v in vals], schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = jobs.streaming_histogram_maintenance(
            stream, store, ckpt, value_col="value", lo=0.0, hi=10.0, bins=10
        )
        q.awaitTermination()

    b1 = [0.5, 1.5, 1.6, 9.9, 10.0, -3.0]   # -3 clamps to bin 0, 10.0 to bin 9
    b2 = [1.7, 5.5, 5.6, 5.7]
    write(b1)
    run_once()
    write(b2)
    run_once()

    got = {r.bin: r.cnt for r in tf.read(spark, store).collect()}
    want_df = jobs.histogram_counters(
        spark.createDataFrame([(float(v),) for v in b1 + b2], schema),
        "value", 0.0, 10.0, 10,
    )
    want = {r.bin: r.cnt for r in want_df.collect()}
    assert got == want == {0: 2, 1: 3, 5: 3, 9: 2}

    est = {
        r.q: r.est
        for r in jobs.histogram_quantiles(
            tf.read(spark, store), 0.0, 10.0, 10, qs=(0.5, 0.9)
        ).collect()
    }
    # N=10: ceil(.5*10)=5 -> cum reaches 5 in bin 1 (2+3); ceil(.9*10)=9
    # -> bin 5 (2+3+3=8) is short, bin 9 reaches 10
    assert est == {0.5: 1.0, 0.9: 9.0}
