"""Driver-contract smoke: entry() runs, every queries() entry runs at
sf0.001 on a tuned session, queries() keeps the driver-window order, and
oracle_sql() keys are a subset of queries() keys."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"symbol", "overall_signal", "score"} <= set(df.columns)


def test_oracle_keys_subset():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_all_queries_run_and_match_columns(registry_sweep):
    """Every registered query builds and runs at sf0.001 with a non-empty
    column list. The frames come from the shared ``registry_sweep``, which
    builds each once for this check and for the plan audit in
    test_plan_shapes."""
    for name, rec in registry_sweep.items():
        if rec["error"] is not None:
            raise AssertionError(f"{name}: {rec['error']!r}") from rec["error"]
        assert rec["columns"], name


def test_sql_front_door(spark, sf_dir):
    """The engine surface is reachable declaratively: register views, run
    SQL (windows + joins) directly."""
    from market_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    out = spark.sql(
        """
        SELECT symbol, d, close,
               avg(close) OVER (PARTITION BY symbol ORDER BY d
                                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS ma_10
        FROM bars ORDER BY symbol, d LIMIT 10
        """
    )
    assert out.count() == 10 and "ma_10" in out.columns
    j = spark.sql(
        "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).collect()[0]
    assert j.n > 0


def test_all_oracle_sql_binds_in_duckdb():
    """Every oracle parses AND binds against the real table schemas (EXPLAIN
    does name/type resolution without executing) — catches SQL typos and
    schema drift in seconds, without a Spark run."""
    import duckdb

    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as ex:  # pragma: no cover
            raise AssertionError(f"oracle for {name} failed to bind: {ex}") from ex


def test_bench_cli_contract(tmp_path):
    """bench.py must print exactly ONE JSON line with the driver's expected
    keys — run at sf0.001 so the check is cheap. Guards the per-round
    BENCH_r{N}.json recording from accidental format drift."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # r10 (r9 verdict task 1): the FORMAT contract — one JSON line, the
    # right keys, sidecar discipline — does not need the full 38-entry
    # × 3-run headline, whose honest sf0.001 runtime (~6 min alone) blew
    # the 600 s subprocess timeout whenever the pytest session loaded the
    # box (tests_ok=false in the r9 driver gate). Subset to the first 3
    # headline entries × 1 run via the test-only env knobs; the driver's
    # own bench invocations leave both unset, so the measured methodology
    # is untouched. Completeness of the FULL queries dict is asserted
    # structurally below (names = HEADLINE ∩ queries(), never a literal).
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_QUERIES="3",
        SPARK_GRAFT_BENCH_RUNS="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        capture_output=True,
        text=True,
        # guards against hangs, not performance: the subset runs in ~1 min
        timeout=420,
        env=env,
        cwd=repo,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    json_lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert len(json_lines) == 1
    rec = json.loads(json_lines[0])
    assert rec["metric"] == "headline_queries_total"
    assert rec["unit"] == "sec" and rec["value"] > 0
    # the subset knob slices the REAL headline list (first 3 + flagship),
    # never hard-coded names: the r4 failure mode was a literal count
    # going stale when the headline grew
    import bench as benchmod

    assert rec["sf"] == 0.001
    assert set(rec["queries"]) == set(benchmod.HEADLINE[:3]) | {"entry_flagship"}
    # a full-methodology line must carry every headline entry: assert the
    # bench derives its name list from HEADLINE ∩ queries() structurally
    qs = set(entrymod.queries())
    assert set(benchmod.HEADLINE) <= qs
    # r9: the printed line is the COMPACT driver-contract subset — the
    # per-query spread block is sidecar-only (BENCH_SELF.json) after the
    # r8 postmortem: the full line hit 2,243 chars vs the driver's
    # 2,000-char merged-output tail window, and BENCH_r08.json parsed
    # null. Guard both halves of that fix.
    assert "spread" not in rec
    assert len(json_lines[0]) < 2000, len(json_lines[0])
    side = json.load(open(os.path.join(repo, "BENCH_SELF.json")))
    assert set(side["spread"]) == set(side["queries"])
    # the committed sidecar is the driver-scale (sf0.1, 32-core, full-
    # methodology) record: the subset run above, and any sf/cpu-reduced
    # run, must never clobber it (r9: the driver's 8-core pass did)
    assert set(side["queries"]) == set(benchmod.HEADLINE) | {"entry_flagship"}


def test_correctness_window_rotation():
    """The driver checks the FIRST 50 queries() entries per run, so the
    order is: names with no clean row in any CORRECTNESS_r*.json, in
    registration order, then the green names by (last clean round, name) —
    a new correctness file moves its names to the back and the window
    advances. The expected order is rebuilt here from the files alone."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.abspath(entrymod.__file__))
    last: dict[str, int] = {}
    for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1))
        for name, row in json.load(open(p)).items():
            if isinstance(row, dict) and row.get("err") is None and not any(
                v is False for v in row.values()
            ):
                last[name] = max(last.get(name, 0), rnd)
    registered = list(entrymod._REGISTRY)
    pending = [n for n in registered if n not in last]
    green = sorted((n for n in registered if n in last), key=lambda n: (last[n], n))
    assert list(entrymod.queries()) == pending + green
    assert list(entrymod.oracle_sql()) == [
        n for n in pending + green if entrymod._REGISTRY[n][1] is not None
    ]
    # registry floor: round-2 shipped 180 named queries; a silent
    # registration overwrite would show up as a drop below this
    assert len(entrymod.queries()) >= 180


def test_every_query_runs_on_a_tuned_session(spark, sf_dir):
    """queries() pins the correctness-critical confs before EVERY query,
    including those whose body never touches the session: a driver session
    left in another zone or with ANSI on must not leak into a result."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for name in ("inv_s7_recent_events", "inv_q_benford"):
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            spark.conf.set("spark.sql.ansi.enabled", "true")
            entrymod.queries()[name](spark, sf_dir)
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC", name
            assert spark.conf.get("spark.sql.ansi.enabled") == "false", name
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_bench_contract_names_and_baseline():
    """bench.py is driver-facing surface: every headline name must resolve
    in queries(), every baseline entry must keep covering the headline set
    (the gate compares over the intersection, so a renamed query would
    silently fall out of the contract), and the gate math must stay sane."""
    import json
    import os

    import bench
    import __spark_entry__ as m

    qs = set(m.queries())
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"bench names not in queries(): {missing}"

    with open(os.path.join(os.path.dirname(bench.__file__), "BASELINE_BENCH.json")) as fh:
        base = json.load(fh)
    uncovered = [n for n in bench.HEADLINE if n not in base["queries"]]
    assert not uncovered, f"headline queries missing a baseline budget: {uncovered}"

    # gate: identical timings pass; a 4x-with-slack blowup on one query fails
    ok = {n: float(v) for n, v in base["queries"].items()}
    assert bench._gate(ok, base["sf"]) == 0
    bad = dict(ok)
    first = bench.HEADLINE[0]
    bad[first] = ok[first] * 4.0 + 2.0
    assert bench._gate(bad, base["sf"]) == 1
    # off-SF runs never engage the gate (local iteration safety)
    assert bench._gate(bad, 0.001) == 0
