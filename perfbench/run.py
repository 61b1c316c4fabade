"""Engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload eod_batch --seed 1 --seconds 25 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` outside
every timed region and cached under ``perfbench/_work``; all Spark scratch
space lives there too. The run sets up the session twice (the first
launches the JVM), measures for ``--seconds``, checks every output, and
prints a detail line and then, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.
Every time in the metrics is stated at a reference core speed (see
``speed.py``); the detail line keeps the raw wall times.
Any exception ends the run with a non-zero exit code and no result line.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, "_work")
# set-ups per run: each starts a session (the first launches the JVM) and
# runs one warm-up, a cold pass of the workload after the JVM launch and a
# short one after a restart, so the measured window gets the rest of the
# time budget
SETUPS = 2
# an eod run measures at least two passes, because the first after the
# set-up is still ~12 % slower (the JIT is still compiling); after that a
# pass starts only while at least this share of the last pass's time is
# left in the window, so that a run overshoots its window by at most that
# share of a pass
EOD_MIN_PASSES = 2
EOD_START_SHARE = 0.5
# a fixed, pre-touched driver heap keeps peak RSS from tracking GC timing
DRIVER_MEM = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pass_s": "s",
    "ticks_per_s": "ticks/s",
    "event_latency_p50_s": "s",
    "event_latency_p99_s": "s",
    "emitted_eps": "events/s",
}
OTHER_LAYER_UNITS = {
    "sinks.persist.bytes_written": "B",
    "sinks.persist.files_written": "count",
    "session.start_s": "s",
    "session.warm_s": "s",
    "pipeline.build_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s_p50": "s",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.rows_per_batch": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.sink_s": "s",
    "generator.lag_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict:
    """Every per-layer metric name with its unit, in report order."""
    from attrib import LAYER_FIELDS
    from workloads import ATTRIBUTED_LAYERS

    units = {f"{layer}.{f}": u for layer in ATTRIBUTED_LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(OTHER_LAYER_UNITS)
    return units


def _environment(work: str) -> None:
    """Confine Spark, the JVM and the Python workers to ``work`` and size
    the session for this machine. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f'--driver-java-options "{java_opts}" pyspark-shell'
        ),
    )
    time.tzset()


def _shutdown(spark) -> None:
    """Stop the session, the JVM behind it and anything still below us."""
    from pyspark import SparkContext

    from attrib import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 20
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


class _Session:
    """Holds the current session and shuts it down on exit, error or not."""

    spark = None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        if self.spark is not None:
            _shutdown(self.spark)


def _metric(value, unit, samples=None):
    m = {"value": value, "unit": unit}
    if samples is not None:
        m["samples"] = samples
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("eod_batch", "quote_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine under test is the checkout this is run from
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401  (fails fast outside a checkout)
    import market_data_pipeline_spark  # noqa: F401

    _environment(WORK)
    from attrib import RssSampler, Tracer
    from speed import CoreSpeed
    from stats import Tally, median, supports
    from workloads import (
        ATTRIBUTED_LAYERS,
        LOOP_LAYERS,
        EodBatch,
        LoopLayers,
        QuoteStream,
        latency_summary,
        warm_workers,
    )

    from market_data_pipeline_spark.session import get_spark

    trace = bool(args.trace)
    tally = Tally()
    if args.workload == "eod_batch":
        wl = EodBatch(WORK, args.seed, tally)
    else:
        wl = QuoteStream(WORK, args.seed, tally, args.seconds)
        # the loop queries ride on the shorter traced run, so that each
        # traced run ends within the harness's time limit
        loops = LoopLayers(WORK, args.seed, tally) if trace else None

    per_layer: dict = {}
    e2e: dict = {}
    raw: dict = {}
    with RssSampler() as rss, CoreSpeed() as speed, _Session() as session:
        spark, tracer = None, None
        setup_s, setup_raw, start_s, warm_s = [], [], [], []
        for k in range(SETUPS):
            t0 = time.time()
            if spark is not None:
                spark.stop()
            spark = session.spark = get_spark("perfbench")
            t1 = time.time()
            if tracer is None:
                tracer = Tracer(spark, enabled=False)
            tracer.bind(spark)
            if k > 0:
                warm_workers(spark)
            elif args.workload == "eod_batch":
                # the cold pass runs on the measured table itself, so that
                # the JIT has compiled its data paths before the window
                wl.run_pass(spark, tracer)
            else:
                wl.warm_up(spark)
            t2 = time.time()
            setup_raw.append(t2 - t0)
            setup_s.append(speed.at_ref(t2 - t0, t0, t2))
            start_s.append(t1 - t0)
            warm_s.append(t2 - t1)

        if args.workload == "eod_batch":
            passes, raw_passes = [], []
            t_end = time.time() + args.seconds
            tracer.enabled = trace
            while len(raw_passes) < EOD_MIN_PASSES or t_end - time.time() >= EOD_START_SHARE * raw_passes[-1]:
                t0 = time.time()
                p = wl.run_pass(spark, tracer)
                raw_passes.append(p)
                passes.append(speed.at_ref(p, t0, time.time()))
            if trace:
                per_layer["trace.overhead_s"] = tracer.overhead_s / len(passes)
                wl.attribute_sources(spark, tracer)
                per_layer.update(tracer.layer_metrics(ATTRIBUTED_LAYERS))
                per_layer["sinks.persist.bytes_written"] = median(wl.persist_bytes)
                per_layer["sinks.persist.files_written"] = median(wl.persist_files)
            per_layer["pipeline.build_s"] = median(wl.build_s)
            raw["pass_s"] = raw_passes
            # every tick of a pass is due at its start and written by its
            # end, so the latency figures are aliases of the pass time; a
            # run holds two or three passes, too few for a steady tail
            p50 = median(passes)
            e2e.update(
                pass_s=_metric(p50, "s", len(passes)),
                ticks_per_s=_metric(wl.ticks / p50, "ticks/s", len(passes)),
                event_latency_p50_s=_metric(p50, "s", len(passes)),
                event_latency_p99_s=_metric(p50, "s", len(passes)),
                emitted_eps=_metric(wl.out_rows / p50, "events/s", len(passes)),
            )
        else:
            res = wl.run(spark)
            lat = latency_summary([speed.at_ref(t1 - t0, t0, t1) for t0, t1 in res["latency_spans"]])
            tally.record(supports(lat["samples"], 0.99), "too few events for a p99")
            batch_s = [speed.at_ref(t1 - t0, t0, t1) for t0, t1 in res["batch_spans"]]
            raw_lat = latency_summary(res["latencies"])
            raw.update(
                batch_s=[t1 - t0 for t0, t1 in res["batch_spans"]],
                latency_p50_s=raw_lat["p50"],
                latency_p99_s=raw_lat["p99"],
            )
            e2e.update(
                pass_s=_metric(median(batch_s), "s", len(batch_s)),
                ticks_per_s=_metric(res["emitted_eps"], "ticks/s", len(res["window_batches"])),
                event_latency_p50_s=_metric(lat["p50"], "s", lat["samples"]),
                event_latency_p99_s=_metric(lat["p99"], "s", lat["samples"]) | {"beyond": lat["beyond_p99"]},
                emitted_eps=_metric(res["emitted_eps"], "events/s", len(res["window_batches"])),
            )
            per_layer.update(wl.stream_layers(res))
            per_layer["trace.overhead_s"] = 0.0
            if trace:
                tracer.enabled = True
                loops.run(spark, tracer)
                per_layer.update(tracer.layer_metrics(LOOP_LAYERS.values()))
    e2e["setup_s"] = _metric(statistics.median(setup_s), "s", len(setup_s))
    e2e["peak_rss_mb"] = _metric(rss.peak_mb, "MB", 1)
    per_layer["session.start_s"] = start_s[0]
    per_layer["session.warm_s"] = warm_s[0]

    if trace:
        with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(tracer.dump(), fh)
        metrics = {k: {"value": per_layer.get(k, 0.0), "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k]["value"], "unit": u} for k, u in END_TO_END_UNITS.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": wl.info,
        "error_rate": tally.error_rate,
        "failures": tally.reasons[:10],
        "peak_rss_by_process_mb": rss.peak_by_process,
        "end_to_end": e2e,
        "core_loop_ms": {
            "median": round(1e3 * median(speed.loops), 3),
            "min": round(1e3 * min(speed.loops), 3),
            "max": round(1e3 * max(speed.loops), 3),
            "samples": len(speed.loops),
        },
        "raw_wall_s": {"setup_s": setup_raw, **raw},
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
