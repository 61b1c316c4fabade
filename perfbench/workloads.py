"""The benchmark's workloads. Each drives only the package's public
functions, checks every output it produces, and returns its measurements.

- ``eod_batch``: closed loop, one client. Repeated end-of-day passes over a
  seeded, symbol-skewed tick table: the flagship daily path. At this input
  size a pass is bound by its ~30 jobs and the partitioned write.
- ``quote_stream``: open loop at a fixed rate. A generator thread lands one
  parquet file of ticks per interval; the engine z-scores them with
  per-key state and a foreachBatch sink stamps each event's emit time.

The four loop queries (``__spark_entry__.queries()``) run only in a traced
``quote_stream`` run, for per-layer attribution: see ``LoopLayers``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from stats import median, open_loop_latencies, percentile, samples_beyond

# eod_batch input: 30 symbols x 250 business days x ~133 ticks/day (~1M
# ticks), skewed; the persisted daily frame is 7.5k rows in 30 partitions
EOD_SIZE = dict(n_symbols=30, n_days=250, ticks_per_day=133)
# quote_stream: offered rate, keys, file interval and discarded warm-up
STREAM_RATE = 1000
STREAM_KEYS = 200
STREAM_INTERVAL_S = 0.2
STREAM_WARMUP_S = 3.0
STREAM_DRAIN_S = 30.0
# loop-query inputs are fixed: the seed only permutes the query order
LOOP_SIZE = dict(n_vec=2000, n_docs=2000, n_orders=15000, n_parts=2000)
LOOP_QUERIES = ("inv_v_pca2", "inv_t_textrank", "inv_g_label_prop", "inv_t_unigram_encode")
LOOP_LAYERS = {
    "inv_v_pca2": "operators.similarity.pca2",
    "inv_t_textrank": "operators.text.textrank",
    "inv_g_label_prop": "operators.graph.label_prop",
    "inv_t_unigram_encode": "operators.text.unigram_encode",
}
EOD_LAYERS = (
    "sources.bars",
    "operators.indicators",
    "operators.breadth",
    "operators.screeners",
    "operators.quality",
)
ATTRIBUTED_LAYERS = EOD_LAYERS + tuple(LOOP_LAYERS.values()) + ("sinks.persist",)


# --- output checks ---------------------------------------------------------


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9) + 0.0)
    return str(v)


def signature(cols, rows) -> list[str]:
    """Order-insensitive row signature with columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def duck_signature(con, sql: str) -> list[str]:
    rel = con.sql(sql)
    return signature(rel.columns, rel.fetchall())


def content_hash(df) -> int:
    """Order-insensitive content hash computed in Spark: the sum of a 64-bit
    hash of every row, so the frame is fully computed but nothing large is
    collected. Complex columns are hashed through their JSON form."""
    from pyspark.sql import functions as F

    cols = [
        F.to_json(f.name) if f.dataType.typeName() in ("map", "array", "struct") else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(F.sum(F.xxhash64(*cols)).alias("h")).collect()[0]["h"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def warm_workers(spark) -> None:
    """The short warm-up after a session restart: one Arrow hop per core, so
    the restarted context has its Python workers before it is measured."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()


# --- eod_batch ---------------------------------------------------------------


class EodBatch:
    """One pass = the daily update persisted symbol-partitioned, the signal
    frame, breadth with health and regime, and the quality report. Breadth
    and quality are checked against their DuckDB oracles; every other frame
    must keep the content hash it had on the first pass."""

    def __init__(self, work: str, seed: int, tally, size: dict = EOD_SIZE):
        self.tally = tally

        def build():
            table, info = gen.tick_table(seed, **size)
            return {"events": table}, info

        key = "x".join(str(v) for v in size.values())
        self.src, self.info = gen.cached(os.path.join(work, "cache"), f"ticks-s{seed}-{key}", build)
        self.persist_dir = os.path.join(work, "persist")
        self.ticks = self.info["ticks"]
        import __spark_entry__ as entry

        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{self.src}/events.parquet'")
        osql = entry.oracle_sql()
        self.oracle = {
            "breadth": duck_signature(con, osql["inv_a1_breadth"]),
            "quality": duck_signature(con, osql["inv_a6a8_quality"]),
        }
        n_bars = con.sql("SELECT count(DISTINCT (user_id, CAST(ts AS DATE))) FROM events").fetchone()[0]
        con.close()
        # rows every pass delivers: daily bars, one signal and one quality
        # row per symbol, the breadth days, one health and one regime row
        self.out_rows = n_bars + 2 * self.info["symbols"] + len(self.oracle["breadth"]) + 2
        self.hashes: dict[str, int] = {}
        self.build_s: list[float] = []
        self.persist_files: list[int] = []
        self.persist_bytes: list[int] = []

    def _same_hash(self, key: str, h: int) -> bool:
        return self.tally.record(self.hashes.setdefault(key, h) == h, f"{key} hash changed")

    def run_pass(self, spark, tracer) -> float:
        """One pass; returns its wall time. Checks run between the timed
        calls and are not part of the returned time."""
        from market_data_pipeline_spark.operators import breadth
        from market_data_pipeline_spark.pipeline import Pipeline

        timed = build = 0.0
        ok = True
        with tracer.span("pass"):
            t = time.time()
            p = Pipeline(spark, self.src)
            build += time.time() - t
            with tracer.span("sinks.persist", attribute=True) as sp:
                daily = p.run_daily_update(persist_to=self.persist_dir)
            timed += sp.end - sp.start
            files, size = _dir_stats(self.persist_dir)
            self.persist_files.append(files)
            self.persist_bytes.append(size)
            ok &= self.tally.record(files > 0, "persist wrote no files")
            ok &= self._same_hash("daily", content_hash(daily))

            with tracer.span("operators.screeners", attribute=True) as sp:
                t = time.time()
                signals = p.run_batch_analysis(daily)
                build += time.time() - t
                h_signals = content_hash(signals)
            timed += sp.end - sp.start
            ok &= self._same_hash("signals", h_signals)

            with tracer.span("operators.breadth", attribute=True) as sp:
                t = time.time()
                br = breadth.derive_breadth(p.load_bars())
                build += time.time() - t
                br_rows = br.collect()
                h_health = content_hash(breadth.market_health(br))
                h_regime = content_hash(breadth.market_regime(br))
            timed += sp.end - sp.start
            ok &= self.tally.record(
                signature(br.columns, br_rows) == self.oracle["breadth"], "breadth != oracle"
            )
            ok &= self._same_hash("health", h_health)
            ok &= self._same_hash("regime", h_regime)

            with tracer.span("operators.quality", attribute=True) as sp:
                t = time.time()
                qf = p.validate_data_quality()
                build += time.time() - t
                q_rows = qf.collect()
            timed += sp.end - sp.start
            ok &= self.tally.record(
                signature(qf.columns, q_rows) == self.oracle["quality"], "quality != oracle"
            )
        self.tally.record(ok, "pass")
        self.build_s.append(build)
        return timed

    def attribute_sources(self, spark, tracer) -> None:
        """Traced runs only: the bar builder and the indicator chain on their
        own, written to noop, so that operators' share of the daily frame is
        ``sinks.persist`` minus these."""
        from market_data_pipeline_spark.pipeline import Pipeline
        from market_data_pipeline_spark.sources.tables import bars_from_events

        with tracer.span("sources.bars", attribute=True):
            noop(bars_from_events(spark, self.src))
        with tracer.span("operators.indicators", attribute=True):
            noop(Pipeline(spark, self.src).run_daily_update())


class LoopLayers:
    """Traced runs of ``quote_stream`` only: the four loop queries of
    ``__spark_entry__.queries()`` on fixed generated tables, each collected
    and checked against its DuckDB oracle."""

    def __init__(self, work: str, seed: int, tally):
        import random

        self.tally = tally
        key = "loop-" + "-".join(str(v) for v in LOOP_SIZE.values())
        self.src, _ = gen.cached(os.path.join(work, "cache"), key, lambda: gen.loop_tables(0, **LOOP_SIZE))
        self.order = list(LOOP_QUERIES)
        random.Random(seed).shuffle(self.order)
        self.oracle = self._oracle()

    def _oracle(self) -> dict:
        """DuckDB signatures, cached beside the fixed inputs (the pca2 oracle
        alone takes ~15 s)."""
        import hashlib

        import __spark_entry__ as entry

        osql = entry.oracle_sql()
        path = os.path.join(self.src, "oracle.json")
        if os.path.exists(path):
            with open(path) as fh:
                cached = json.load(fh)
            if all(cached.get(q, {}).get("sql") == hashlib.sha1(osql[q].encode()).hexdigest() for q in LOOP_QUERIES):
                return {q: cached[q]["sig"] for q in LOOP_QUERIES}
        con = duckdb.connect()
        for t in ("embeddings", "documents", "lineitem"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.src}/{t}.parquet'")
        out = {
            q: {"sql": hashlib.sha1(osql[q].encode()).hexdigest(), "sig": duck_signature(con, osql[q])}
            for q in LOOP_QUERIES
        }
        con.close()
        with open(path + ".tmp", "w") as fh:
            json.dump(out, fh)
        os.replace(path + ".tmp", path)
        return {q: v["sig"] for q, v in out.items()}

    def run(self, spark, tracer) -> None:
        import __spark_entry__ as entry

        qs = entry.queries()
        for q in self.order:
            with tracer.span(LOOP_LAYERS[q], attribute=True):
                df = qs[q](spark, self.src)
                rows = df.collect()
            self.tally.record(signature(df.columns, rows) == self.oracle[q], f"{q} != oracle")


# --- quote_stream ------------------------------------------------------------


def welford_flags(table: pa.Table, threshold: float = 3.0, min_obs: int = 10) -> dict:
    """Replay of the streaming z-score in (ts, event_id) order per key:
    event_id -> (zscore, is_anomaly)."""
    cols = table.select(["event_id", "ts", "user_id", "value"]).to_pydict()
    order = sorted(range(len(cols["event_id"])), key=lambda i: (cols["ts"][i], cols["event_id"][i]))
    state: dict[int, tuple] = {}
    out = {}
    for i in order:
        k, v = cols["user_id"][i], float(cols["value"][i])
        n, mean, m2 = state.get(k, (0, 0.0, 0.0))
        if n >= min_obs:
            var = m2 / (n - 1) if n > 1 else 0.0
            sd = var ** 0.5
            z = (v - mean) / sd if sd > 0 else 0.0
        else:
            z = 0.0
        out[cols["event_id"][i]] = (round(z, 4), n >= min_obs and abs(z) > threshold)
        n += 1
        delta = v - mean
        mean += delta / n
        m2 += delta * (v - mean)
        state[k] = (n, mean, m2)
    return out


class _Generator(threading.Thread):
    """Open-loop file generator: file ``k`` holds the events whose slots fall
    in ``[k, k+1) × interval`` after ``t_start`` and is due at the end of
    that interval. It never waits for the engine; when it runs late it
    records by how much and catches up."""

    def __init__(self, directory: str, files: list[bytes], t_start: float, interval: float):
        super().__init__(name="quote-generator", daemon=True)
        self.directory, self.files = directory, files
        self.t_start, self.interval = t_start, interval
        self.lags: list[float] = []
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def run(self):
        try:
            for k, payload in enumerate(self.files):
                due = self.t_start + (k + 1) * self.interval
                if self._halt.wait(max(0.0, due - time.time())):
                    return
                tmp = os.path.join(self.directory, f".part-{k:05d}.parquet.tmp")
                with open(tmp, "wb") as fh:
                    fh.write(payload)
                os.replace(tmp, os.path.join(self.directory, f"part-{k:05d}.parquet"))
                self.lags.append(time.time() - due)
        except BaseException as e:  # reported by the workload after join
            self.error = e

    def stop(self):
        self._halt.set()


class QuoteStream:
    def __init__(self, work: str, seed: int, tally, seconds: float):
        self.tally = tally
        self.work = work
        self.seconds = seconds
        span_s = STREAM_WARMUP_S + seconds

        def build():
            table, info = gen.stream_table(seed, STREAM_RATE, span_s, STREAM_KEYS)
            return {"events": table}, info

        src, self.info = gen.cached(
            os.path.join(work, "cache"), f"quotes-s{seed}-{STREAM_RATE}x{span_s:g}x{STREAM_KEYS}", build
        )
        self.table = pq.read_table(os.path.join(src, "events.parquet"))
        self.expect = welford_flags(self.table)
        per_file = int(STREAM_RATE * STREAM_INTERVAL_S)
        self.files = [self._parquet_bytes(self.table.slice(o, per_file)) for o in range(0, self.table.num_rows, per_file)]
        self.warm_table, _ = gen.stream_table(seed + 1, STREAM_RATE, 1.0, STREAM_KEYS)
        self.batches: list[dict] = []
        self.progress: list[dict] = []
        self.lags: list[float] = []

    @staticmethod
    def _parquet_bytes(t: pa.Table) -> bytes:
        sink = pa.BufferOutputStream()
        pq.write_table(t, sink)
        return sink.getvalue().to_pybytes()

    def _fresh(self, name: str) -> tuple[str, str]:
        base = os.path.join(self.work, name)
        shutil.rmtree(base, ignore_errors=True)
        src = os.path.join(base, "events.parquet")
        os.makedirs(src)
        return base, src

    def _start(self, spark, base: str, sink):
        from market_data_pipeline_spark.streaming import jobs, stateful

        out = stateful.streaming_anomaly_zscore(jobs.stream_events(spark, base))
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(jobs.stream_shuffle_partitions()))
        try:
            return (
                out.writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(base, "checkpoint"))
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def warm_up(self, spark) -> None:
        """Setup: one short stream over a separate one-second input, run to
        completion, so the JVM, the Python workers and the stateful path are
        warm before the measured stream starts."""
        base, src = self._fresh("stream-warm")
        pq.write_table(self.warm_table, os.path.join(src, "part-00000.parquet"))
        seen = []
        q = self._start(spark, base, lambda df, _bid: seen.extend(r[0] for r in df.select("event_id").collect()))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        self.tally.record(sorted(seen) == list(range(self.warm_table.num_rows)), "warm-up stream lost events")

    def run(self, spark) -> dict:
        base, src = self._fresh("stream")
        # an empty file fixes the schema the stream reader needs at start
        pq.write_table(self.table.slice(0, 0), os.path.join(src, "part-schema.parquet"))
        emitted: dict[int, float] = {}
        results: dict[int, tuple] = {}

        def sink(df, batch_id):
            t_in = time.time()
            rows = df.select("event_id", "zscore", "is_anomaly").collect()
            t_emit = time.time()
            ids = [ev for ev, _, _ in rows]
            dupes = len(ids) - len(set(ids)) + sum(1 for ev in set(ids) if ev in emitted)
            for ev, z, flag in rows:
                emitted[ev] = t_emit
                results[ev] = (z, flag)
            self.batches.append(
                {"batch_id": batch_id, "ids": ids, "dupes": dupes, "t_in": t_in, "t_emit": t_emit, "sink_s": time.time() - t_in}
            )

        q = self._start(spark, base, sink)
        t_start = time.time()
        gen_thread = _Generator(src, self.files, t_start, STREAM_INTERVAL_S)
        gen_thread.start()
        try:
            gen_thread.join(timeout=STREAM_WARMUP_S + self.seconds + STREAM_DRAIN_S)
            deadline = time.time() + STREAM_DRAIN_S
            while len(emitted) < self.table.num_rows and time.time() < deadline and q.isActive:
                time.sleep(0.05)
        finally:
            gen_thread.stop()
            gen_thread.join(timeout=10)
            self.progress = [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]
            q.stop()
        if gen_thread.error is not None:
            raise gen_thread.error
        self.lags = gen_thread.lags

        # checks: each micro-batch emits new events only, with the replay's
        # z-score and flag; in the end every event was emitted
        for b in self.batches:
            wrong = sum(1 for ev in b["ids"] if results[ev] != self.expect.get(ev))
            self.tally.record(b["dupes"] == 0 and wrong == 0, f"batch {b['batch_id']}: {b['dupes']} repeated, {wrong} wrong")
        n = self.table.num_rows
        self.tally.record(len(emitted) == n, f"emitted {len(emitted)} of {n} events")

        # measured window: events due in [warm-up, warm-up + seconds)
        slots = {i: t_start + i / STREAM_RATE for i in range(int(STREAM_WARMUP_S * STREAM_RATE), n)}
        lat = list(open_loop_latencies(slots, emitted).values())
        # each latency's interval, so it can be scaled by the core speed of
        # its own stretch of the window
        lat_spans = [(slots[k], emitted[k]) for k in slots if k in emitted]
        in_window = [b for b in self.batches if t_start + STREAM_WARMUP_S <= b["t_emit"]]
        if len(in_window) >= 2:
            span = in_window[-1]["t_emit"] - in_window[0]["t_emit"]
            eps = sum(len(b["ids"]) for b in in_window[1:]) / span
        else:
            eps = 0.0
        return {
            "latencies": lat,
            "latency_spans": lat_spans,
            "emitted_eps": eps,
            "batch_spans": [(b["t_in"], b["t_emit"]) for b in in_window],
            "window_batches": in_window,
        }

    def stream_layers(self, result: dict) -> dict:
        """Per-layer figures of the measured stream, from the query progress
        of the batches that carried data."""
        prog = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        dur = lambda k: median([p["durationMs"].get(k, 0) for p in prog]) if prog else 0.0  # noqa: E731
        state = [sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])) for p in prog]
        mem = [sum(s.get("memoryUsedBytes", 0) for s in p.get("stateOperators", [])) for p in prog]
        return {
            "streaming.batches": len(prog),
            "streaming.batch_s_p50": median([p["durationMs"].get("triggerExecution", 0) / 1e3 for p in prog]) if prog else 0.0,
            "streaming.latest_offset_ms": dur("latestOffset"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.rows_per_batch": median([p["numInputRows"] for p in prog]) if prog else 0.0,
            "streaming.state_rows": max(state) if state else 0,
            "streaming.state_bytes": max(mem) if mem else 0,
            "streaming.sink_s": median([b["sink_s"] for b in result["window_batches"]]) if result["window_batches"] else 0.0,
            "generator.lag_s": max(self.lags) if self.lags else 0.0,
        }


def latency_summary(lat: list[float]) -> dict:
    return {
        "p50": percentile(lat, 0.5),
        "p99": percentile(lat, 0.99),
        "samples": len(lat),
        "beyond_p99": samples_beyond(len(lat), 0.99),
    }

