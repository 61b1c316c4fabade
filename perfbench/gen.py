"""Seeded input generators. They write the ``events`` schema that
``sources.tables.load_table`` and ``streaming.jobs.stream_events`` read (and,
for the loop queries, ``embeddings``, ``documents`` and ``lineitem``). They
run outside every timed region and are cached on disk by (seed, size)."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["trade", "quote", "cancel", "amend"])
PROPS = np.array([f'{{"k": {i}}}' for i in range(100)])
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
# 2024-01-01 (a Monday), in µs since the epoch
EPOCH_2024_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
SESSION_US = 6 * 3_600_000_000  # ticks fall in a 6 h trading session
SESSION_OPEN_US = 9 * 3_600_000_000


# The seed does not pick which keys are hot: which hot keys share a task
# decides the skewed stages' wall time, and that would then vary by seed.
HOT_KEY_SEED = 0


def _skewed_weights(rng, n: int, exponent: float) -> np.ndarray:
    """Zipf-like share per key, in a random key order drawn from ``rng``."""
    w = 1.0 / np.arange(1, n + 1) ** exponent
    return rng.permutation(w / w.sum())


def _events_table(event_id, ts_us, user_id, value, rng) -> pa.Table:
    n = len(event_id)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    props = PROPS[rng.integers(0, len(PROPS), n)]
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array(etype, pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props, pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def tick_table(seed: int, n_symbols: int, n_days: int, ticks_per_day: float) -> tuple[pa.Table, dict]:
    """Daily-session ticks over ``n_days`` business days. Ticks per symbol
    follow a Zipf-like skew, so the bar aggregation and symbol windows see
    partition skew. ``ts`` is unique per symbol (strictly increasing within
    a session), which the bar builder's min_by/max_by rely on."""
    rng = np.random.default_rng(seed)
    share = _skewed_weights(np.random.default_rng(HOT_KEY_SEED), n_symbols, 0.8)
    lam = share * n_symbols * ticks_per_day  # mean ticks per (symbol, day)
    bdays = np.array([d for d in range(n_days * 7 // 5 + 7) if d % 7 < 5][:n_days])
    counts = rng.poisson(np.repeat(lam, n_days)).astype(np.int64)
    counts = np.maximum(counts, 1)
    sym = np.repeat(np.repeat(np.arange(n_symbols), n_days), counts)
    day = np.repeat(np.tile(bdays, n_symbols), counts)
    n = int(counts.sum())
    # strictly increasing offsets inside each (symbol, day) group
    group = np.repeat(np.arange(len(counts)), counts)
    off = rng.integers(0, SESSION_US - counts.max(), n)
    order = np.lexsort((off, group))
    off = off[order]
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    off = off + (np.arange(n) - starts)
    ts = EPOCH_2024_US + day * DAY_US + SESSION_OPEN_US + off
    # per-symbol random walk around a seeded base price
    base = rng.uniform(10.0, 200.0, n_symbols)
    steps = rng.normal(0.0, 0.002, n)
    walk = np.cumsum(steps)
    sym_first = np.cumsum(np.bincount(sym, minlength=n_symbols)) - np.bincount(sym, minlength=n_symbols)
    walk = walk - walk[sym_first][sym]
    value = np.round(base[sym] * np.exp(walk), 2)
    # event ids in time order, as an ingest feed would assign them
    ev_order = np.argsort(ts, kind="stable")
    event_id = np.empty(n, np.int64)
    event_id[ev_order] = np.arange(n)
    table = _events_table(event_id, ts, sym.astype(np.int64), value, rng)
    per_sym = np.bincount(sym, minlength=n_symbols)
    info = {
        "ticks": n,
        "symbols": n_symbols,
        "days": n_days,
        "ticks_per_symbol_max_over_mean": round(float(per_sym.max() / per_sym.mean()), 3),
        "top_decile_symbol_share": round(float(np.sort(per_sym)[-max(1, n_symbols // 10):].sum() / n), 4),
    }
    return table, info


def stream_table(seed: int, rate: int, seconds: float, n_keys: int) -> tuple[pa.Table, dict]:
    """``rate × seconds`` quote events in slot order: event ``i`` is due at
    ``i / rate`` s after the stream starts, and its event time ``ts`` is the
    same offset after 2024-01-01, so ts order is slot order. Values are a
    per-key Gaussian with rare spikes, so the z-score flags fire."""
    rng = np.random.default_rng(seed)
    n = int(rate * seconds)
    share = _skewed_weights(np.random.default_rng(HOT_KEY_SEED), n_keys, 0.6)
    key = rng.choice(n_keys, size=n, p=share).astype(np.int64)
    mu = rng.uniform(20.0, 80.0, n_keys)
    sd = rng.uniform(0.5, 3.0, n_keys)
    value = rng.normal(mu[key], sd[key])
    spike = rng.random(n) < 0.01
    value[spike] += rng.choice([-1.0, 1.0], spike.sum()) * 8.0 * sd[key[spike]]
    value = np.round(value, 3)
    slot_us = (np.arange(n) * 1_000_000) // rate
    table = _events_table(np.arange(n, dtype=np.int64), EPOCH_2024_US + slot_us, key, value, rng)
    counts = np.bincount(key, minlength=n_keys)
    info = {
        "events": n,
        "keys": n_keys,
        "rate_eps": rate,
        "hottest_key_share": round(float(counts.max() / n), 4),
        "spike_share": round(float(spike.mean()), 4),
    }
    return table, info


_WORDS = (
    "market price order trade quote spread volume bid ask fill book depth tick "
    "signal trend momentum breadth regime rally selloff index sector stock bond "
    "yield rate risk hedge option future swap credit equity fund flow liquidity "
    "close open high low session batch stream window join scan shuffle state"
).split()
_STOP = ["a", "the", "of", "and", "to", "in"]


def loop_tables(seed: int, n_vec: int, n_docs: int, n_orders: int, n_parts: int) -> tuple[dict, dict]:
    """Inputs of the loop queries: a 64-d ``embeddings`` table with a few
    clustered labels, a ``documents`` corpus over a small skewed vocabulary
    and a ``lineitem`` basket table for the co-purchase graph."""
    rng = np.random.default_rng(seed)
    dim, n_labels = 64, 8
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    label = rng.integers(0, n_labels, n_vec)
    emb = (centers[label] + rng.normal(0.0, 0.6, (n_vec, dim))) / 8.0
    emb = emb.astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    vocab = np.array(_WORDS + _STOP)
    p = _skewed_weights(rng, len(vocab), 1.0)
    lengths = rng.integers(20, 80, n_docs)
    words = vocab[rng.choice(len(vocab), size=int(lengths.sum()), p=p)]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(["en", "vi"])[rng.integers(0, 2, n_docs)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    ok = np.repeat(np.arange(n_orders), lines)
    pshare = _skewed_weights(rng, n_parts, 0.7)
    pk = rng.choice(n_parts, size=len(ok), p=pshare)
    ln = np.arange(len(ok)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(ok, pa.int64()),
            "l_partkey": pa.array(pk, pa.int64()),
            "l_suppkey": pa.array(pk % 97, pa.int64()),
            "l_linenumber": pa.array(ln, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 50, len(ok)).astype(float), pa.float64()),
        }
    )
    tables = {"embeddings": embeddings, "documents": documents, "lineitem": lineitem}
    info = {name: t.num_rows for name, t in tables.items()}
    return tables, info


def cached(root: str, key: str, build) -> tuple[str, dict]:
    """Directory ``root/key`` holding ``<name>.parquet`` per table built by
    ``build()`` (which returns ``({name: table}, info)``), plus ``info.json``.
    Built once; a half-written directory is never reused. The key carries
    a hash of this file, so a changed generator never reuses old inputs."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    d = os.path.join(root, f"{key}-{version}")
    meta = os.path.join(d, "info.json")
    if not os.path.exists(meta):
        os.makedirs(d, exist_ok=True)
        tables, info = build()
        for name, t in tables.items():
            pq.write_table(t, os.path.join(d, f"{name}.parquet"))
        tmp = meta + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(info, fh)
        os.replace(tmp, meta)
    with open(meta) as fh:
        return d, json.load(fh)
