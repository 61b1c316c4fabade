"""Spark-free checks of the benchmark's own arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import speed  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 0.5) == 50
    assert stats.percentile(xs, 0.99) == 99
    assert stats.percentile(xs, 1.0) == 100
    assert stats.percentile([7.0], 0.99) == 7.0
    assert stats.median([3, 1, 2, 4]) == 2  # lower middle, never an average
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile([1], 1.5)


def test_tail_needs_ten_samples_beyond():
    assert stats.samples_beyond(1000, 0.99) == 10
    assert stats.supports(1000, 0.99)
    assert not stats.supports(999, 0.99)
    assert stats.supports(20, 0.5)
    assert not stats.supports(19, 0.5)
    assert stats.samples_beyond(0, 0.5) == 0


def test_union_of_overlapping_job_intervals():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == 10  # nested
    assert stats.union_length([(0, 1), (1, 2)]) == 2  # touching
    assert stats.union_length([(3, 3), (4, 2)]) == 0  # empty and inverted
    assert stats.union_length([]) == 0


def test_driver_gap_is_wall_minus_union_not_sum():
    jobs = [(1, 4), (3, 6), (8, 12)]  # two overlap; one runs past the call
    assert stats.driver_gap(0, 10, jobs) == pytest.approx(10 - (5 + 2))
    assert stats.driver_gap(0, 10, []) == 10


def test_open_loop_latency_counts_from_the_slot():
    slots = {0: 0.0, 1: 0.5, 2: 1.0}
    # event 1 was written late and all three left in one batch at t=3
    emitted = {0: 3.0, 1: 3.0, 2: 3.0}
    assert stats.open_loop_latencies(slots, emitted) == {0: 3.0, 1: 2.5, 2: 2.0}
    assert stats.open_loop_latencies(slots, {0: 1.0}) == {0: 1.0}


def test_generator_keeps_its_schedule_and_records_lag(tmp_path):
    files = [b"a", b"b", b"c"]
    t0 = time.time()
    g = workloads._Generator(str(tmp_path), files, t0, 0.05)
    g.start()
    g.join(timeout=5)
    assert not g.is_alive() and g.error is None
    assert sorted(os.listdir(tmp_path)) == ["part-00000.parquet", "part-00001.parquet", "part-00002.parquet"]
    assert len(g.lags) == 3 and all(lag >= 0 for lag in g.lags)
    assert time.time() - t0 >= 3 * 0.05


def test_error_rate_counts_wrong_results_as_failures():
    t = stats.Tally()
    assert t.error_rate == 0.0
    for ok in (True, True, False, True):
        t.record(ok, "breadth != oracle")
    assert (t.attempted, t.failed, t.error_rate) == (4, 1, 0.25)
    assert t.reasons == ["breadth != oracle"]


def test_self_time_subtracts_covered_child_time():
    spans = [
        stats.Span("pass", 0, 10),
        stats.Span("a", 1, 3, parent=0),
        stats.Span("b", 2, 5, parent=0),  # overlaps a
        stats.Span("c", 6, 7, parent=0),
        stats.Span("c.1", 6, 6.5, parent=3),
    ]
    assert stats.self_times(spans) == pytest.approx([10 - 5, 2, 3, 0.5, 0.5])


def test_welford_replay_orders_by_ts_then_event_id():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9, 30.0, 10.0]
    n = len(vals)
    t = pa.table(
        {
            # written out of order: the replay must sort by (ts, event_id)
            "event_id": list(range(n))[::-1],
            "ts": pa.array([n - 1 - i for i in range(n)], pa.int64()).cast(pa.timestamp("us")),
            "user_id": [7] * n,
            "value": vals[::-1],
        }
    )
    flags = workloads.welford_flags(t)
    assert [flags[i][1] for i in range(n)] == [False] * 10 + [True, False]
    assert all(flags[i][0] == 0.0 for i in range(10))


def test_seed_changes_the_ticks_but_not_which_symbols_are_hot():
    a, _ = gen.tick_table(1, n_symbols=10, n_days=50, ticks_per_day=20)
    b, _ = gen.tick_table(2, n_symbols=10, n_days=50, ticks_per_day=20)
    hot = [np.bincount(t.column("user_id").to_numpy(), minlength=10).argmax() for t in (a, b)]
    assert hot[0] == hot[1]
    assert not a.equals(b)


def test_signature_ignores_row_and_column_order():
    a = workloads.signature(["b", "a"], [(1, -0.0), (2, 0.1 + 0.2)])
    b = workloads.signature(["a", "b"], [(0.30000000000000004, 2), (0.0, 1)])
    assert a == b


def test_benchmark_json_names_what_the_harness_prints():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert len(spec["per_layer"]) <= 128


def test_wall_time_is_scaled_by_the_median_loop_time_inside_the_interval():
    times = [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    loops = [0.010, 0.020, 0.020, 0.030, 0.010, 0.010]
    # samples at t = 1, 2, 3: median 20 ms, so the host ran at half speed
    assert speed.scale_factor(times, loops, 0.5, 3.5, min_samples=3) == pytest.approx(0.5)


def test_a_thin_interval_borrows_the_neighbouring_samples():
    times = [0.0, 1.0, 2.0, 3.0, 4.0]
    loops = [0.020, 0.020, 0.040, 0.020, 0.020]
    # one sample inside; widened to the three around it, median 20 ms
    assert speed.scale_factor(times, loops, 1.9, 2.1, min_samples=3) == pytest.approx(0.5)
    # an interval with no sample, past the end, takes the last ones
    assert speed.scale_factor(times, loops, 9.0, 9.5, min_samples=2) == pytest.approx(0.5)
    assert speed.scale_factor(times, loops, 0.0, 9.0, min_samples=50) == pytest.approx(0.5)
