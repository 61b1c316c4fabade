"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.9 north-star surface): per-key running totals, Welford
z-score anomalies, gap sessionization and a CUSUM drift monitor.

The reference's closest analog is the per-symbol TTL memo cache that
accumulates latest quote state across polling rounds
(/root/reference/src/extractors/price_extractor.py:16-136). Here the state is
explicit, fault-tolerant (checkpointed with the query), and partitioned by
key — the 100 TB shape: state lives with the shuffle partition, no driver
involvement, Arrow batches in and out of Python.

Each operator projects its input to the columns its update function reads
before the stateful ``groupBy``. Every column of the grouped child crosses
into Python, and pyspark converts each one from Arrow to pandas for every
group of every micro-batch: that conversion, not the state math, is most of
a batch's Python time. String payloads (``event_type``, ``props``) would be
converted only to be ignored, and a timestamp pays a time-zone conversion;
the z-score and CUSUM replays read ``ts`` only to order rows, so it crosses
as epoch microseconds (a long) and the rows are ordered with one
``np.lexsort``. Sessionization keeps ``ts`` a timestamp: its watermark and
event-time timeout are defined on it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"
STATE_SCHEMA = "n bigint, total double"


def _ts_us() -> Column:
    """``ts`` as epoch microseconds, the replay-order key sent to Python."""
    return F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")


def _replay_order(pdf: pd.DataFrame) -> np.ndarray:
    """Row order of one key's batch for a state replay: (ts, event_id),
    stable, a null ``ts`` last — the order of a mergesort over both
    columns. A null makes Arrow hand the longs over as floats; they are
    not cast otherwise."""
    ts = pdf["ts_us"].to_numpy()
    null = pd.isna(ts)
    return np.lexsort((pdf["event_id"].to_numpy(), np.where(null, 0, ts), null))


def running_totals(events: DataFrame) -> DataFrame:
    """Cumulative (count, Σvalue) per user across micro-batches. Emits one
    updated row per key per batch (outputMode=update); the state survives
    batches and restarts via the checkpoint."""

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdf_iter:
            vals = pd.to_numeric(pdf["value"], errors="coerce")
            n += int(vals.notna().sum())
            total += float(vals.fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ANOMALY_OUTPUT_SCHEMA = (
    "user_id bigint, event_id bigint, value double, zscore double, is_anomaly boolean"
)
ANOMALY_STATE_SCHEMA = "n bigint, mean double, m2 double"


def streaming_anomaly_zscore(
    events: DataFrame, threshold: float = 3.0, min_obs: int = 10
) -> DataFrame:
    """Streaming per-key anomaly detection: each event is z-scored against
    the key's RUNNING mean/std (Welford's online algorithm in state), then
    the state absorbs it. Flags |z| > threshold once ≥ min_obs events have
    been seen — the streaming twin of operators/anomaly.py's batch z-score
    (reference placeholder: src/analyzers/anomaly_detector.py, 0 bytes).

    State is three scalars per key (n, mean, M2) — O(active keys) total, no
    window buffer; Welford is numerically stable where naive Σx² cancels
    catastrophically after ~1e8 observations. Rows inside one batch are
    processed in event order (batch sorted before the update), so replaying
    history through the stream yields the same flags as a batch prefix scan.
    """

    def update(key, pdf_iter, state):
        if state.exists:
            n, mean, m2 = state.get
        else:
            n, mean, m2 = 0, 0.0, 0.0
        chunks = list(pdf_iter)
        # Arrow hands a key with more than maxRecordsPerBatch rows over as
        # several chunks: concat BEFORE sorting so the Welford replay sees
        # the whole batch in (ts, event_id) order
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        order = _replay_order(pdf)
        vals = pd.to_numeric(pdf["value"], errors="coerce").to_numpy(dtype=float)[order]
        seen = ~np.isnan(vals)
        vals = vals[seen]
        zs, flags = [], []
        for v in vals.tolist():
            if n >= min_obs:
                var = m2 / (n - 1) if n > 1 else 0.0
                sd = var ** 0.5
                z = (v - mean) / sd if sd > 0 else 0.0
            else:
                z = 0.0
            zs.append(round(z, 4))
            flags.append(n >= min_obs and abs(z) > threshold)
            n += 1
            delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
        state.update((n, mean, m2))
        yield pd.DataFrame(
            {
                "user_id": np.full(len(vals), key[0]),
                "event_id": pdf["event_id"].to_numpy()[order][seen],
                "value": vals,
                "zscore": np.array(zs, dtype=float),
                "is_anomaly": np.array(flags, dtype=bool),
            }
        )

    replayed = events.select("user_id", "event_id", _ts_us(), "value")
    return replayed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=ANOMALY_OUTPUT_SCHEMA,
        stateStructType=ANOMALY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_seq bigint, session_start timestamp, "
    "session_end timestamp, duration_s bigint, n_events bigint, total_value double"
)
# hwm = highest session ordinal ALLOCATED so far (monotone per user);
# open_seq = the open session's own ordinal (<= hwm). Two fields because a
# backdated singleton can allocate a new ordinal while the open session
# keeps its original one.
SESSION_STATE_SCHEMA = (
    "hwm bigint, open_seq bigint, start_us bigint, last_us bigint, "
    "n bigint, total double"
)


def streaming_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "10 minutes",
    seq_retention_gaps: int = 10,
) -> DataFrame:
    """Streaming gap-sessionization with EVENT-TIME TIMEOUT — the streaming
    twin of ``behavior.sessionize`` that ``session_window`` aggregation
    cannot express when you need the closed session AS A ROW (id, start,
    end, rollup) the moment it is final.

    Per user, state holds the open session (ordinal, start, last, count,
    Σvalue). In-batch gap splits emit closed sessions immediately; the open
    session emits when the watermark passes ``last + gap`` (EventTimeTimeout)
    — i.e. exactly when no on-time row can extend it. State is O(users),
    never O(events); emission is append-mode and final (no retractions).

    Timestamps are tracked as epoch-µs longs in state; ``duration_s`` uses
    floor-to-second arithmetic matching ``cast(ts as long)`` in the batch
    twin. The timeout timestamp is clamped above the current watermark
    (Spark rejects past timestamps); with a single data batch the clamp
    never engages.

    Session-id continuity across eviction: emitting a session does NOT drop
    the user's state. Instead the state collapses to a TOMBSTONE
    (``start_us IS NULL``) that keeps only the last emitted ``seq``, so a
    user who returns after a timeout continues at seq+1 instead of
    re-emitting (user_id, 1). The tombstone carries its own event-time
    timeout ``seq_retention_gaps × gap`` past the session end and is removed
    when it fires — state stays O(active users), and only a user silent for
    longer than the retention horizon can ever restart at 1 (documented
    trade-off; raise ``seq_retention_gaps`` if downstream keys on
    (user_id, session_seq) beyond that horizon).

    Backdated rows: an event inside the watermark but EARLIER than the open
    session's start (late delivery) merges with ``start_us = min(start, t)``
    when it lands within ``gap`` of the start — the session extends
    backward as well as forward. Beyond the gap it cannot belong to the
    open session (the batch twin would split there), so it emits as an
    immediately-closed singleton with the next seq ordinal — unique ids,
    emission-ordered in this corner; two beyond-gap late events that would
    merge with EACH OTHER still emit separately (approximation, documented).
    """
    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1000
    retention_ms = seq_retention_gaps * gap_ms

    def _row(uid, seq, start_us, last_us, n, total):
        return {
            "user_id": uid,
            "session_seq": seq,
            "session_start": pd.Timestamp(start_us, unit="us"),
            "session_end": pd.Timestamp(last_us, unit="us"),
            "duration_s": last_us // 1_000_000 - start_us // 1_000_000,
            "n_events": n,
            "total_value": round(total, 4),
        }

    def update(key, pdf_iter, state: GroupState):
        (uid,) = key
        if state.hasTimedOut:
            hwm, open_seq, start_us, last_us, n, total = state.get
            if start_us is None:
                # tombstone retention expired — forget the seq counter
                state.remove()
                return
            # evict the open session but KEEP the hwm as a tombstone so a
            # returning user continues at hwm+1 (no duplicate session ids)
            state.update((hwm, 0, None, last_us, 0, 0.0))
            state.setTimeoutTimestamp(
                max(
                    last_us // 1000 + retention_ms,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
            yield pd.DataFrame([_row(uid, open_seq, start_us, last_us, n, total)])
            return
        pdf = pd.concat(list(pdf_iter), ignore_index=True).sort_values("ts")
        ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
        vals = pd.to_numeric(pdf["value"], errors="coerce").fillna(0.0).tolist()
        if state.exists:
            hwm, open_seq, start_us, last_us, n, total = state.get
        else:
            hwm, open_seq, start_us, last_us, n, total = 0, 0, None, 0, 0, 0.0
        closed = []
        for t, v in zip(ts_us, vals):
            if start_us is None:
                hwm += 1
                open_seq, start_us, last_us, n, total = hwm, t, t, 1, float(v)
            elif t - last_us > gap_us:
                closed.append(_row(uid, open_seq, start_us, last_us, n, total))
                hwm += 1
                open_seq, start_us, last_us, n, total = hwm, t, t, 1, float(v)
            elif start_us - t > gap_us:
                # backdated beyond the gap BEFORE the open session: the
                # batch twin would make this its own earlier session, so
                # emit it as an immediately-closed singleton with a fresh
                # ordinal; the open session keeps its own (unique ids,
                # emission-ordered in this late-data corner).
                hwm += 1
                closed.append(_row(uid, hwm, t, t, 1, float(v)))
            else:
                # in-gap merge; a backdated (late but in-watermark) event
                # within the gap of the session START extends it backward
                start_us, last_us, n, total = (
                    min(start_us, t),
                    max(last_us, t),
                    n + 1,
                    total + float(v),
                )
        state.update((hwm, open_seq, start_us, last_us, n, total))
        state.setTimeoutTimestamp(
            max(last_us // 1000 + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield pd.DataFrame(closed)

    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


CUSUM_OUTPUT_SCHEMA = "user_id bigint, n_obs bigint, alarms_up bigint, alarms_down bigint"
CUSUM_STATE_SCHEMA = "sp double, sn double, n bigint, up bigint, dn bigint"


def streaming_cusum(
    events: DataFrame, k: float = 0.5, h: float = 4.0
) -> DataFrame:
    """Streaming two-sided CUSUM drift monitor — the stateful twin of
    ``indicators.cusum_alarms``: per key, accumulate
    S⁺ = max(0, S⁺ + z − k) / S⁻ = max(0, S⁻ − z − k) over standardized
    values, alarm and reset on crossing ``h``. The baseline (per-key
    ``mean``/``std`` columns) arrives ON the rows via an upstream
    stream-static broadcast join — the production shape: reference
    parameters come from a historical table, state is four scalars per
    key, no window buffer.

    Batch rows are processed in (ts, event_id) order and the state math
    quantizes to 10 dp with the shared nudge — exactly the batch fold's
    arithmetic — so replaying any prefix through the stream emits the
    same counts as the batch recursion, and the final emission equals the
    full-series batch answer (the driver oracle).
    """

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            sp, sn, n, up, dn = state.get
        else:
            sp, sn, n, up, dn = 0.0, 0.0, 0, 0, 0
        chunks = [pdf for pdf in pdf_iter]
        if chunks:
            # concat BEFORE sorting: Arrow may hand one group over as
            # several chunks, and per-chunk sorting would only locally
            # order each — the state replay needs the full batch ordered
            pdf = pd.concat(chunks, ignore_index=True)
            order = _replay_order(pdf)
            vals = pd.to_numeric(pdf["value"], errors="coerce").to_numpy(dtype=float)[order]
            means = pdf["mean"].to_numpy(dtype=float)[order]
            stds = pdf["std"].to_numpy(dtype=float)[order]
            for v, mean, std in zip(vals.tolist(), means.tolist(), stds.tolist()):
                if pd.isna(v):
                    continue
                z = (v - mean) / std
                zsp = round(max(0.0, (sp + z) - k) + 1e-13, 10)
                zsn = round(max(0.0, (sn - z) - k) + 1e-13, 10)
                up += 1 if zsp > h else 0
                dn += 1 if zsn > h else 0
                sp = 0.0 if zsp > h else zsp
                sn = 0.0 if zsn > h else zsn
                n += 1
        state.update((sp, sn, n, up, dn))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_obs": [n],
                "alarms_up": [up],
                "alarms_down": [dn],
            }
        )

    replayed = events.select("user_id", "event_id", _ts_us(), "value", "mean", "std")
    return replayed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
