"""Streaming observability: structured extraction from StreamingQuery
progress events — input rate, batch duration, state-store size, watermark.

The reference's only observability is a log line per symbol batch
(/root/reference/src/pipeline.py:259-275). Structured Streaming emits a
progress JSON per micro-batch; at scale these numbers (state rows growing
without bound, watermark lag widening, batch duration > trigger interval)
are THE signals that a streaming job is about to fall over. This module
turns them into rows a monitoring pipeline can ingest.
"""

from __future__ import annotations

from typing import Any


def progress_rows(query: Any) -> list[dict]:
    """Flatten ``query.recentProgress`` into one dict per micro-batch:
    batch_id, input rows, processed rows/sec, batch duration, total state
    rows/bytes across stateful operators, and the event-time watermark.

    The batch's phases come along, in ms: ``latest_offset_ms`` (asking the
    sources), ``query_planning_ms``, ``add_batch_ms`` (running the batch into
    the sink), ``wal_commit_ms`` and ``commit_offsets_ms`` (the offset WAL
    and commit log writes), and ``state_commit_ms``, the state-store commit
    time summed over stateful operators (each already sums its tasks).
    ``state_partitions`` is the largest ``numShufflePartitions`` over the
    stateful operators, the width the query's checkpoint fixed (0 for a
    stateless query)."""
    out = []
    for p in query.recentProgress or []:
        state = p.get("stateOperators") or []
        dur = p.get("durationMs") or {}
        out.append(
            {
                "batch_id": p.get("batchId"),
                "num_input_rows": p.get("numInputRows", 0),
                "rows_per_sec": p.get("processedRowsPerSecond", 0.0),
                "batch_duration_ms": dur.get("triggerExecution"),
                "latest_offset_ms": dur.get("latestOffset", 0),
                "query_planning_ms": dur.get("queryPlanning", 0),
                "add_batch_ms": dur.get("addBatch", 0),
                "wal_commit_ms": dur.get("walCommit", 0),
                "commit_offsets_ms": dur.get("commitOffsets", 0),
                "state_commit_ms": sum(s.get("commitTimeMs", 0) for s in state),
                "state_rows": sum(s.get("numRowsTotal", 0) for s in state),
                "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
                "n_state_operators": len(state),
                "state_partitions": max((s.get("numShufflePartitions", 0) for s in state), default=0),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
            }
        )
    return out


def health_flags(
    rows: list[dict],
    max_batch_ms: int | None = None,
    max_state_rows: int | None = None,
) -> dict:
    """Aggregate red-flag summary over a progress window: is state growing
    monotonically (leak — missing watermark/timeout eviction)? Did any
    batch exceed the duration budget (falling behind the trigger)?"""
    state_series = [r["state_rows"] for r in rows if r["n_state_operators"] > 0]
    growing = (
        len(state_series) >= 3
        and all(b > a for a, b in zip(state_series, state_series[1:]))
    )
    slow = [
        r["batch_id"]
        for r in rows
        if max_batch_ms is not None
        and (r["batch_duration_ms"] or 0) > max_batch_ms
    ]
    oversized = [
        r["batch_id"]
        for r in rows
        if max_state_rows is not None and r["state_rows"] > max_state_rows
    ]
    return {
        "n_batches": len(rows),
        "state_monotonically_growing": growing,
        "slow_batches": slow,
        "state_over_budget": oversized,
        "total_input_rows": sum(r["num_input_rows"] for r in rows),
    }
