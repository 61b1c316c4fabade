"""Structured Streaming surface.

The reference fakes streaming with a 60 s TTL cache
(/root/reference/src/extractors/price_extractor.py:16-136) and an 18:00
sleep-loop scheduler (/root/reference/scripts/daily_update.py:57-104).
The Spark-native replacements (SURVEY.md §2.9):

- TTL cache        → micro-batch trigger(processingTime='60 seconds')
- keep-last dedupe → withWatermark + dropDuplicates on (symbol, time)
- daily loop       → trigger(availableNow=True) incremental batch
- plus the windows the reference never had: tumbling / sliding / session.

Streaming queries are verified by driving the same parquet data through the
stream (memory sink, processAllAvailable) and comparing against the batch
plan — Structured Streaming guarantees the same answer for the same input.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from market_data_pipeline_spark.sources import tablefmt as _tf
from market_data_pipeline_spark.sources.tables import read_events


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet. Schema pinned (streaming
    readers never infer); pathGlobFilter scopes the directory scan to the
    events table. ``tables.read_events`` supplies the schema and the ts
    normalization (ns-long → µs, or NTZ → session-zone timestamp)."""
    import os

    path = f"{sf_dir}/events.parquet"

    def open_stream(schema: StructType) -> DataFrame:
        if os.path.isdir(path):
            # multi-file table (the real-lake layout, e.g. the scalecheck
            # replicas): stream the directory itself — a pathGlobFilter of
            # 'events.parquet' would match no LEAF file inside it and the
            # stream would silently be empty
            return spark.readStream.schema(schema).parquet(path)
        # single-file testdata layout: scope the directory scan to the
        # events table by file name
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    return read_events(spark, path, open_stream)


def tumbling_window_agg(events: DataFrame, width: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time windows per event_type: count + sum(value).
    Watermark bounds state; late rows beyond it are dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("event_type"),
            F.col("n"),
            F.col("total_value"),
        )
    )


def sliding_window_agg(events: DataFrame, width: str = "2 hours", slide: str = "1 hour", watermark: str = "4 hours") -> DataFrame:
    """Sliding windows: each event lands in width/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """The keep-last-cache semantics as a stream: drop duplicate
    (user_id, ts) within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicates(["user_id", "ts"])


def session_windows_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization (batch form): gaps-and-islands — a new session starts
    when the gap from the previous event exceeds ``gap_minutes``. The batch
    twin of streaming ``session_window`` (same boundaries), oracle-checkable
    in SQL. One shuffle on user_id."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag("ts", 1).over(w).cast("long")
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    by_session = (
        events.withColumn("session_id", sess_id)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
    )
    return by_session


def session_window_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """True streaming session windows via ``session_window`` — state merges
    as events arrive; watermark closes sessions."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"), "n_events")
    )


_MEM_SINK_SEQ = [0]


def stream_shuffle_partitions() -> int:
    """State-partition width for the stateful streams this package starts:
    ``min(8, task slots)``, where task slots is the active
    ``SparkContext.defaultParallelism`` (N on ``local[N]``, the total
    executor cores on a cluster; 8 when no context is running).
    ``$SPARK_GRAFT_STREAM_PARTITIONS`` wins when it holds an integer
    (clamped to at least 1); any other value falls back to the rule.

    Every state partition is a task and a state-store commit in every
    micro-batch, whatever its key count. Measured for
    ``streaming_anomaly_zscore`` on 4 cores with fixed 600-event batches
    over 200 keys, going from 8 partitions to 4 cut a batch's Python worker
    CPU from 0.43-0.50 to 0.31-0.36 s, its worker forks from 85-90 to
    49-56, the summed ``allUpdatesTimeMs`` from 790-870 to 510-580 and the
    summed state ``commitTimeMs`` from 24-40 to 12-17 ms; inside the
    worker, a task costs a median 40 ms of CPU. More partitions than slots
    run the stateful stage in several waves and only add those costs, so
    the width is capped at the slots: one wave per micro-batch. The cap of
    8 was sized for the test corpora (~150 active keys).

    The width is durable. A stateful query captures
    ``spark.sql.shuffle.partitions`` into its checkpoint when it first
    starts and keeps it for the checkpoint's life: an existing checkpoint
    keeps its width after a restart under this rule, and a checkpoint
    created on a small host keeps its small width when it moves to a
    bigger one. Still open: deriving the width from the stream's key
    cardinality instead of the host."""
    import os

    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "")))
    except ValueError:
        pass
    sc = SparkContext._active_spark_context
    return min(8, sc.defaultParallelism) if sc is not None else 8


@contextmanager
def stream_width(spark: SparkSession) -> Iterator[int]:
    """Set ``spark.sql.shuffle.partitions`` to
    ``stream_shuffle_partitions()`` for the body and yield that width; the
    caller's value comes back in ``finally``. Start a stateful query inside
    it: the query captures the width when it starts. Nothing else should
    plan on this session meanwhile."""
    width = stream_shuffle_partitions()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_stream_to_memory(
    spark: SparkSession,
    streaming_df: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drive a streaming plan to completion on the available files and return
    the materialized result — the local verification harness for the
    streaming surface (a real deployment writes to Kafka/Delta instead).
    Sink table names are unique-ified so repeated runs in one session don't
    collide. The query runs at the stream width (``stream_width``)."""
    _MEM_SINK_SEQ[0] += 1
    qname = f"{name}_{_MEM_SINK_SEQ[0]}"
    with stream_width(spark):
        q = (
            streaming_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(qname)


def stream_static_enrich(spark: SparkSession, sf_dir: str, events_stream: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch of events joins a static
    per-user profile (historical mean value) computed from the batch table,
    then rolls up per event_type how many events beat the user's own mean.

    The static side is broadcast — in a real deployment it's a slowly-
    refreshed dim snapshot; Structured Streaming re-resolves static
    DataFrames per micro-batch, which is exactly the reference's 24 h
    fundamental-cache semantics (fundamental_extractor.py:22-23) done
    properly. State: only the final groupBy(event_type) counters.
    """
    from market_data_pipeline_spark.sources.tables import load_table

    batch = load_table(spark, sf_dir, "events")
    profile = batch.groupBy("user_id").agg(F.avg("value").alias("__avg_value"))
    return (
        events_stream.join(F.broadcast(profile), "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("value") > F.col("__avg_value"), 1).otherwise(0)).alias(
                "n_above_user_avg"
            ),
        )
    )


def stream_stream_attribution(
    spark: SparkSession,
    sf_dir: str,
    attr_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the clicks
    that preceded it within ``attr_window`` for the same user (the classic
    ad-attribution join the reference's TTL-cache model cannot express).

    Both sides are watermarked so the join state is BOUNDED: a click can be
    dropped from state once event-time passes click_ts + attr_window +
    watermark — without the time-range conjunct the state would grow
    forever. Inner stream-stream joins emit exactly the batch-join answer,
    which is what the DuckDB oracle checks.
    """
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
            F.col("value").alias("buy_value"),
        )
        .withWatermark("buy_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"c_user = user_id AND buy_ts >= click_ts "
            f"AND buy_ts <= click_ts + interval {attr_window}"
        ),
    ).select(
        "user_id",
        "click_id",
        "buy_id",
        F.round("buy_value", 4).alias("buy_value"),
    )


def streaming_ohlcv_bars(
    events: DataFrame, width: str = "4 hours", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming OHLCV bar construction — the watermark twin of
    ``tables.bars_from_events_interval``: per (symbol, time bucket),
    open/close via ``min_by``/``max_by`` on the event time, high/low/volume
    associative. In append mode a bar emits exactly once, when the
    watermark passes its window end — the live candle feed every charting
    stack consumes, with state bounded to the watermark horizon.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.col("user_id").alias("symbol"),
            F.window("ts", width).alias("w"),
        )
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.round(F.sum("value"), 4).alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
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


def _start_foreach(
    stream: DataFrame, fn, checkpoint: str, trigger_available_now: bool
):
    """Start ``stream`` into the ``foreachBatch`` function ``fn`` under
    ``checkpoint`` (availableNow unless told otherwise); returns the
    started StreamingQuery (caller awaits termination)."""
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _writer_app(checkpoint: str, prefix: str, app: str | None = None):
    """Writer identity under which a foreachBatch table sink records its
    batch ids: ``app`` when given, else ``prefix`` plus the streaming
    query id PERSISTED IN THE CHECKPOINT (``<checkpoint>/metadata``, which
    StreamExecution writes before the first batch runs), read once at the
    first batch. Returns a ``spark -> app`` resolver.

    The query id is stable across restarts of one checkpoint lineage, so
    a crash replay (same batch id, same query) skips. It is REGENERATED
    when a checkpoint is deleted and recreated at the same path — exactly
    the event that restarts batch numbering at 0 — so the new
    incarnation's batch 0 (possibly carrying never-seen data) can never
    collide with the old incarnation's recorded id (Delta keys txn dedup
    on (appId, version) for the same reason; a path-hash identity would
    silently drop that batch). A fresh checkpoint is therefore a new
    writer for every sink whose identity comes from here."""
    cell = [app]

    def resolve(spark: SparkSession) -> str:
        if cell[0] is None:
            qid = spark.read.json(checkpoint.rstrip("/") + "/metadata").head()["id"]
            cell[0] = prefix + qid
        return cell[0]

    return resolve


def _sketch_maintenance(
    stream_df: DataFrame,
    store_path: str,
    checkpoint: str,
    delta_fn,
    merge_keys: list[str],
    merge_exprs,
    trigger_available_now: bool = True,
):
    """Shared foreachBatch scaffold for MERGEABLE sketch stores (CMS
    counters, HLL registers, histogram counts — any linear or
    idempotent-union sketch): per micro-batch, ``delta_fn(batch_df)``
    builds the batch's sketch table and ``tablefmt.streaming_aggregate_sink``
    folds it into the store — union with the head, re-aggregate with
    ``merge_exprs`` over ``merge_keys``, commit as a rewrite of that head.

    EXACTLY-ONCE through the versioned table's manifest txn: the commit
    records the batch id under this checkpoint's writer identity
    (_writer_app), so a crash replay of a batch skips and a CMS counter
    never double-counts. A fresh checkpoint is a NEW writer, as it is for
    the table sinks: pointed at an existing store it applies every batch
    it reads, so feed one store from one checkpoint lineage (the marker
    store this replaced skipped any batch id the old lineage had used,
    silently dropping whatever new data it carried). History is vacuumed
    to the newest two versions after every batch. Read the store with
    ``tablefmt.read``."""
    app = _writer_app(checkpoint, "sketch-")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _tf.streaming_aggregate_sink(
            store_path, merge_keys, merge_exprs, app=app(spark)
        )(delta_fn(batch_df), batch_id)
        _tf.vacuum(spark, store_path, keep_last=2)

    return _start_foreach(stream_df, merge, checkpoint, trigger_available_now)


def streaming_cms_maintenance(
    stream_df: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    width: int = 1024,
    depth: int = 4,
    trigger_available_now: bool = True,
):
    """Incremental count-min sketch maintenance: per micro-batch, build the
    batch's (row, bucket) counter delta (quality.cms_counters — one
    map-side-combined agg into width·depth cells) and MERGE it into the
    persisted counter table by summing per cell.

    CMS is a linear sketch — counters of a union are the sums of the
    counters — so batch-wise maintenance is EXACT: after any number of
    batches the store equals the sketch of all events ever seen, and
    heavy-hitter queries read width·depth rows regardless of history size.

    The store is a ``tablefmt`` table (read it with ``tablefmt.read``),
    exactly-once per checkpoint lineage: a fresh checkpoint is a NEW
    writer and re-applies every batch it reads (see _sketch_maintenance).
    """
    from market_data_pipeline_spark.operators.quality import cms_counters

    return _sketch_maintenance(
        stream_df,
        store_path,
        checkpoint,
        delta_fn=lambda b: cms_counters(
            b.select(key_col), key_col, width=width, depth=depth
        ),
        merge_keys=["row", "bucket"],
        merge_exprs=lambda: [F.sum("cnt").alias("cnt")],
        trigger_available_now=trigger_available_now,
    )


def streaming_hll_maintenance(
    stream_df: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "event_type",
    distinct_col: str = "user_id",
    trigger_available_now: bool = True,
):
    """Incremental distinct-count sketches: per micro-batch, build one
    DataSketches HLL per key (``hll_sketch_agg`` — one map-side-combined
    agg) and MERGE into the persisted sketch table with ``hll_union_agg``.

    HLL register maxima are order-insensitive, so the union of per-batch
    sketches equals the sketch of all events at once — after any number of
    batches the store answers "distinct users per key, ever" in O(keys ·
    sketch_size) with NO rescan of history. The streaming twin of
    ``quality.sketch_rollup_distinct`` (its rollup-by-union property, kept
    hot as data arrives). Store, exactly-once and fresh-checkpoint
    contract as ``streaming_cms_maintenance``.
    """
    return _sketch_maintenance(
        stream_df,
        store_path,
        checkpoint,
        delta_fn=lambda b: b.groupBy(key_col).agg(
            F.hll_sketch_agg(distinct_col).alias("sk")
        ),
        merge_keys=[key_col],
        merge_exprs=lambda: [F.hll_union_agg("sk").alias("sk")],
        trigger_available_now=trigger_available_now,
    )


def quote_signal_aggs() -> list:
    """The per-slice quote-signal aggregate list — ONE definition shared by
    the streaming windowed scan and its batch twin, so the two can never
    drift. first/last anchor on ``seq`` (unique per symbol), making every
    aggregate deterministic; computed doubles round to 6 dp on both
    engines (fp-sum order across partitions is not deterministic)."""
    return [
        F.min_by("price", "seq").alias("first_price"),
        F.max_by("price", "seq").alias("last_price"),
        F.round(F.avg("price"), 6).alias("avg_price"),
        F.round(
            (F.max_by("price", "seq") - F.min_by("price", "seq"))
            / F.min_by("price", "seq")
            * 100.0,
            6,
        ).alias("momentum_pct"),
        F.round(F.stddev_samp("pct_change"), 6).alias("tick_vol"),
        F.sum("volume").alias("total_volume"),
        F.count(F.lit(1)).alias("n_ticks"),
    ]


def streaming_quote_signals(
    quotes: DataFrame, width: str = "10 minutes", watermark: str = "5 minutes"
) -> DataFrame:
    """Windowed realtime signal scan over the quote feed — the streaming
    composition the reference's TTL-cache + scanner loop approximates
    (price_extractor.py:109-136 feeding market_scanner.py): per symbol and
    event-time window, momentum / tick volatility / volume, finalized by
    the watermark and emitted append-mode exactly once."""
    return (
        quotes.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "symbol")
        .agg(*quote_signal_aggs())
        .select(
            "symbol", F.col("win.start").alias("win_start"),
            "first_price", "last_price", "avg_price", "momentum_pct",
            "tick_vol", "total_volume", "n_ticks",
        )
    )


def streaming_jsonl_ingest(
    spark: SparkSession,
    in_dir: str,
    schema,
    table_path: str,
    quarantine_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Continuous JSONL ingestion into the versioned table format with a
    corrupt-line quarantine — the crawl-drop landing zone as a stream:
    new .jsonl files appearing under ``in_dir`` are picked up by the file
    source, split by the SAME pinned-schema parser as the batch reader
    (sinks.jsonl_split — schema drift in good rows fails loudly, bad
    lines keep their verbatim text), and appended EXACTLY ONCE: both the
    main table and the quarantine are tablefmt tables whose manifests
    record the micro-batch id (Delta's txn trick), so a foreachBatch
    replay after a crash skips work already committed — per table
    independently, which makes the two-table write safe (a crash between
    the appends replays into skip + apply).

    Per-batch cost scales with the BATCH only; the quarantine is a
    time-travelable table an operator can diff across versions to watch
    parser health. Returns the started StreamingQuery.
    """
    from market_data_pipeline_spark.sources import sinks as _sinks

    stream = (
        spark.readStream.format("text")
        .option("pathGlobFilter", "*.jsonl")
        .load(in_dir)
    )
    good_sink = _tf.streaming_sink(table_path)
    bad_sink = _tf.streaming_sink(quarantine_path)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        good, bad = _sinks.jsonl_split(batch_df, schema)
        if not good.isEmpty():
            good_sink(good, batch_id)
        if not bad.isEmpty():
            bad_sink(bad, batch_id)

    return _start_foreach(stream, write, checkpoint, trigger_available_now)


def streaming_dedup_admission_table(
    stream_docs: DataFrame,
    table_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.05,
    trigger_available_now: bool = True,
    app: str | None = None,
):
    """Continuous corpus admission — the streaming twin of
    ``dedup.incremental_dedup``: every micro-batch is deduplicated WITHIN
    the batch (exact, keep lowest id) and AGAINST the accumulated corpus
    table (exact anti join + MinHash-band near-dup with Jaccard
    verification), and only fresh documents append to the table.
    Per-batch cost scales with the BATCH, never the corpus — the corpus's
    own pairs are never recomputed (operators/dedup.py:367 contract).
    ``foreachBatch`` is the right tool because the table is both input
    and sink of the same batch — no pure streaming operator can express
    the read-your-own-writes admission loop.

    Survivors append through ``tablefmt``'s manifest-txn commit. What
    that buys at 100 TB: admission history is time-travelable (which
    batch admitted which docs is a version diff / ``read_changes`` call),
    a backfill job can write BESIDE the live stream and serialize through
    the same optimistic commit protocol, and vacuum retires old snapshots
    without forgetting batch ids (the txn sidecar). Exactly-once comes
    from the manifest (txn_app, txn) pair — a replayed batch finds its id
    recorded under this query's writer identity (_writer_app: the query
    id persisted in the checkpoint) and skips. Pass an explicit ``app``
    only for backfill writers that must SHARE an identity across
    checkpoints — and then an in-place checkpoint reset requires a new
    ``app``. Re-admission of already-stored documents under a new
    identity is prevented by the admission CONTENT checks themselves, at
    the cost of re-running them.

    Returns the started StreamingQuery (caller awaits termination)."""
    from market_data_pipeline_spark.operators import dedup as _dedup
    from market_data_pipeline_spark.operators.text import normalized

    writer_app = _writer_app(checkpoint, "admit-", app)

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        app = writer_app(spark)
        # ONE manifest-log scan per batch here (the sink re-checks at
        # commit time for concurrency safety — that second scan is the
        # protocol's cost, bounded because vacuum keeps the manifest
        # chain short)
        if batch_id in _tf.committed_batches(spark, table_path, app):
            return  # replayed batch of THIS lineage — already applied
        w = Window.partitionBy(F.md5(normalized(F.col(text_col)))).orderBy(id_col)
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        try:
            store = _tf.read(spark, table_path)
        except FileNotFoundError:
            store = None
        if store is not None:
            kept_ids = _dedup.incremental_dedup(
                batch.select(id_col, text_col),
                store.select(id_col, text_col),
                text_col=text_col,
                id_col=id_col,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
                threshold=threshold,
            ).select(id_col)
            kept = batch.join(kept_ids, id_col, "semi")
        else:
            kept = batch
        # the tablefmt sink re-checks committed_batches and appends with
        # (txn_app, txn) under the optimistic-commit loop; an all-rejected
        # batch still commits (an empty append), recording the batch id
        # so a same-lineage replay skips the admission work
        _tf.streaming_sink(table_path, app=app)(kept, batch_id)

    return _start_foreach(stream_docs, admit, checkpoint, trigger_available_now)


def streaming_latest_state_table(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    time_col: str = "ts",
    trigger_available_now: bool = True,
    app: str | None = None,
    op_col: str | None = None,
    delete_op: str = "d",
):
    """Maintain a LATEST-STATE table from a stream — the CDC-apply /
    materialized-upsert pattern (a live quote board, per-entity current
    state): each micro-batch is reduced to its newest row per key tuple
    (max_by on the event time — late intra-batch disorder resolved
    in-batch), then UPSERTED into the versioned table through
    ``tablefmt.streaming_merge_sink`` — exactly once (manifest txn ids;
    replays skip, vacuum keeps the horizon) and serializable against
    concurrent batch writers (a conflicting commit re-plans the merge).

    Versus ``streaming_dedup_admission_table`` (append-only corpus
    admission) this is the OTHER half of the lakehouse streaming story:
    rows REPLACE by key, so the table is always the current state while
    history stays time-travelable version by version.

    The writer identity defaults to the streaming query id PERSISTED IN
    THE CHECKPOINT (_writer_app): deleting and recreating the checkpoint
    restarts batch numbering at 0 AND regenerates the identity, so the new
    lineage's batch 0 can never collide with the old lineage's recorded
    txn ids — and two latest-state streams with different checkpoints
    writing one table never share an identity. Pass an explicit ``app``
    only to SHARE identity across checkpoints (a coordinated backfill),
    accepting that an in-place checkpoint reset then requires a new
    ``app``.

    With ``op_col``, the stream is a CDC CHANGE FEED: rows whose op
    equals ``delete_op`` are tombstones. Per key the batch still reduces
    to its newest row by event time — if that newest row is a tombstone
    the key is DELETED from the table, else it upserts — and both halves
    commit atomically under one txn id (``tablefmt.merge_upsert``'s
    ``deletes``), so exactly-once covers deletes too: a replayed batch
    skips the whole change set or none of it. An upsert-then-delete for
    one key inside one batch resolves to the delete (the newest event
    wins), matching a serial apply.

    Returns the started StreamingQuery (caller awaits termination)."""
    writer_app = _writer_app(checkpoint, "latest-", app)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        payload = [c for c in batch_df.columns if c not in keys]
        latest = batch_df.groupBy(*keys).agg(
            *[F.max_by(c, time_col).alias(c) for c in payload]
        )
        _tf.streaming_merge_sink(
            table_path,
            keys,
            app=writer_app(batch_df.sparkSession),
            op_col=op_col,
            delete_op=delete_op,
        )(latest, batch_id)

    return _start_foreach(stream, apply, checkpoint, trigger_available_now)


def histogram_counters(df: DataFrame, value_col: str, lo: float, hi: float, bins: int) -> DataFrame:
    """Equi-width histogram counters over ``value_col``: bin = clamp(
    floor((v − lo)/w), 0, bins−1) with w = (hi − lo)/bins — one
    map-side-combined aggregation into ≤ ``bins`` cells. Shared by the
    batch build and the streaming delta so the two can never drift.

    NaN values are dropped alongside NULLs (a NaN passed isNotNull but
    floor(NaN) casts to null and `greatest` skips nulls, silently landing
    it in bin 0 while a SQL twin errors casting NaN to BIGINT — r8
    ADVICE); degenerate edges (hi ≤ lo) raise instead of emitting
    zero-width bins."""
    if hi <= lo:
        raise ValueError(f"histogram edges must satisfy lo < hi, got [{lo}, {hi}]")
    w = (hi - lo) / bins
    b = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)).cast("long"),
            F.lit(0),
        ),
        F.lit(bins - 1),
    )
    return (
        df.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
        )
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def streaming_histogram_maintenance(
    stream_df: DataFrame,
    store_path: str,
    checkpoint: str,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1.0,
    bins: int = 256,
    trigger_available_now: bool = True,
):
    """Incremental equi-width histogram maintenance — the streaming
    quantile store. Histogram counts are a LINEAR sketch (counts of a
    union are the sums of the counts), so batch-wise maintenance is
    EXACT: after any number of batches the store equals the one-shot
    batch histogram, and any quantile reads O(bins) rows with no rescan
    of history. Estimate error is bounded by the bin width — the
    classic fixed-memory accuracy trade (vs CMS's frequency and HLL's
    cardinality guarantees; this is the VALUE-distribution member of
    the sketch-store family).

    ``lo``/``hi`` pin the bin edges for the STORE's lifetime (merging
    histograms with different edges is meaningless) — derive them from
    table stats (manifest min/max) or a prior profiling pass; values
    outside clamp into the edge bins, so a drifting tail degrades
    accuracy at the edges instead of corrupting the store. Store,
    exactly-once and fresh-checkpoint contract as
    ``streaming_cms_maintenance``."""
    return _sketch_maintenance(
        stream_df,
        store_path,
        checkpoint,
        delta_fn=lambda b: histogram_counters(b, value_col, lo, hi, bins),
        merge_keys=["bin"],
        merge_exprs=lambda: [F.sum("cnt").alias("cnt")],
        trigger_available_now=trigger_available_now,
    )


def histogram_quantiles(
    counters: DataFrame,
    lo: float,
    hi: float,
    bins: int,
    qs: tuple = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """Quantile estimates from a binned-histogram counter table: for each
    q, the LEFT EDGE of the first bin whose cumulative count reaches
    ceil(q·N) — the type-1 quantile at bin resolution. One window over
    ≤ ``bins`` rows (bounded model state, never data) then a ≤|qs|-row
    cross join. |est − true quantile| < 2·binwidth by construction (the
    order statistic lies inside the chosen bin; an interpolating exact
    quantile can cross at most one edge)."""
    from pyspark.sql import Window

    spark = counters.sparkSession
    w = (hi - lo) / bins
    cum = counters.select(
        "bin",
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("__cum"),
    )
    tot = counters.agg(F.sum("cnt").alias("__n"))
    qf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    return (
        qf.crossJoin(F.broadcast(tot))
        .join(cum, F.col("__cum") >= F.ceil(F.col("q") * F.col("__n")))
        .groupBy("q")
        .agg(F.min("bin").alias("__bin"))
        .select(
            "q",
            F.round(F.lit(lo) + F.col("__bin") * F.lit(w) + F.lit(1e-9), 6).alias(
                "est"
            ),
        )
    )
