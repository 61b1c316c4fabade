"""User-facing API parity: config loader, Pipeline entry points, reports.

Mirrors the reference's public surface (README.md:251-259, SURVEY.md §3) so a
reference user can switch engines without relearning the API.
"""

from __future__ import annotations

import pytest

from market_data_pipeline_spark.config import ConfigValidationError, load_config
from market_data_pipeline_spark.pipeline import Pipeline
from market_data_pipeline_spark import reports


BASE_YAML = """
symbols: [VNM, MWG]
start_date: "2024-01-01"
end_date: "2026-01-14"
retry: 3
data_paths: {raw: /tmp/raw, processed: /tmp/processed}
logging: {level: INFO}
"""


@pytest.fixture()
def cfg_path(tmp_path):
    p = tmp_path / "settings.yaml"
    p.write_text(BASE_YAML)
    return str(p)


def test_config_env_overrides_beat_file(cfg_path):
    cfg = load_config(cfg_path, env={"MDP_SYMBOLS": "FPT , HPG", "MDP_RETRY": "5"})
    assert cfg["symbols"] == ["FPT", "HPG"]
    assert cfg["retry"] == 5
    assert cfg["start_date"] == "2024-01-01"  # untouched


def test_config_symbols_fallback_to_market_scope(tmp_path):
    p = tmp_path / "s.yaml"
    p.write_text(BASE_YAML.replace("symbols: [VNM, MWG]", "market_scope: {symbols: [VNM]}"))
    cfg = load_config(str(p), env={})
    assert cfg["symbols"] == ["VNM"]


def test_config_missing_required_field_raises(tmp_path):
    p = tmp_path / "s.yaml"
    p.write_text(BASE_YAML.replace('retry: 3', ""))
    with pytest.raises(ConfigValidationError, match="retry"):
        load_config(str(p), env={})


def test_config_bad_env_retry_raises(cfg_path):
    with pytest.raises(ConfigValidationError, match="MDP_RETRY"):
        load_config(cfg_path, env={"MDP_RETRY": "not_a_number"})


def test_daily_update_produces_indicator_columns(spark, sf_dir):
    pipe = Pipeline(spark, sf_dir)
    df = pipe.run_daily_update()
    for col in ("ma_20", "rsi", "macd", "bb_upper", "atr", "obv", "momentum_1m", "dist_ma_20"):
        assert col in df.columns
    assert df.count() > 0


def _checkpoint_leaves(df) -> set[int]:
    """RDD ids of the ``LogicalRDD`` leaves (checkpoint snapshots) of a plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    ids = set()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


def _stage_names(spark, group: str) -> list[str]:
    """Names of every stage of every job run under ``group``."""
    st = spark.sparkContext.statusTracker()
    names = []
    for job in st.getJobIdsForGroup(group):
        for stage in st.getJobInfo(job).stageIds:
            info = st.getStageInfo(stage)
            if info is not None:
                names.append(info.name)
    return names


def test_full_pipeline_frames(spark, sf_dir):
    out = Pipeline(spark, sf_dir).run_full_pipeline()
    assert set(out) == {"daily", "breadth", "health", "regime", "signals"}
    sig = out["signals"]
    n_symbols = out["daily"].select("symbol").distinct().count()
    assert sig.count() == n_symbols  # one signal row per symbol
    assert out["health"].count() == 1 and out["regime"].count() == 1
    # daily and breadth read one bar snapshot, not two tick scans
    leaves = _checkpoint_leaves(out["daily"])
    assert len(leaves) == 1 and _checkpoint_leaves(out["breadth"]) == leaves


def test_load_bars_built_once_per_instance(spark, sf_dir):
    from market_data_pipeline_spark.operators import breadth

    sc = spark.sparkContext
    try:
        p = Pipeline(spark, sf_dir)
        bars = p.load_bars()
        assert p.load_bars() is bars
        plan = bars._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "parquet" not in plan and "relation" not in plan

        # quality rolls up the partials the snapshot carries: no tick scan
        sc.setJobGroup("quality_on_snapshot", "quality over the bar snapshot")
        rep = p.validate_data_quality()
        rep.collect()
        names = _stage_names(spark, "quality_on_snapshot")
        assert 1 <= len(sc.statusTracker().getJobIdsForGroup("quality_on_snapshot")) <= 2
        assert names and not any(n.startswith(("parquet at", "localCheckpoint")) for n in names)
        assert "relation" not in rep._jdf.queryExecution().optimizedPlan().toString().lower()

        sc.setJobGroup("breadth_on_snapshot", "breadth over the bar snapshot")
        br = breadth.derive_breadth(p.load_bars())
        br.collect()
        breadth.market_health(br).collect()
        breadth.market_regime(br).collect()
        names = _stage_names(spark, "breadth_on_snapshot")
        assert names and not any(n.startswith(("parquet at", "localCheckpoint")) for n in names)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_bar_snapshot_is_one_exchange(spark, sf_dir):
    """Bars and quality partials come out of one aggregate over one
    repartition of the ticks, the duplicate-time lag included."""
    import re

    from market_data_pipeline_spark.pipeline import _bar_snapshot

    plan = _bar_snapshot(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1
    # the tree prints root first: the lag window sits above the exchange
    lag = re.search(r"\bWindow \[lag\(ts#", plan)
    assert lag and lag.start() < plan.index("Exchange")
    assert "count(distinct" not in plan


def test_daily_update_job_count(spark, sf_dir, tmp_path):
    """Job counts do not move with host noise, so they are pinned: after
    ``load_bars``, a persisted daily update runs the three adaptive stages
    of the write, reads its output back with the frame's known schema (no
    schema job), and never reads the ticks again (they are gone by then)."""
    import shutil

    shutil.copy(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")
    p = Pipeline(spark, str(tmp_path))
    p.load_bars()
    (tmp_path / "events.parquet").unlink()
    sc = spark.sparkContext
    try:
        sc.setJobGroup("daily_update_jobs", "persisted daily update")
        daily = p.run_daily_update(persist_to=str(tmp_path / "daily"))
        assert len(sc.statusTracker().getJobIdsForGroup("daily_update_jobs")) == 3
        names = _stage_names(spark, "daily_update_jobs")
        assert not any(n.startswith("parquet at") for n in names)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # partition inference would read symbol back as int
    assert dict(daily.dtypes) == dict(p.run_daily_update().dtypes)


def test_load_bars_is_a_snapshot_not_a_cache(spark, sf_dir, tmp_path):
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from market_data_pipeline_spark.operators import breadth

    events = tmp_path / "events.parquet"
    shutil.copy(f"{sf_dir}/events.parquet", events)
    p1 = Pipeline(spark, str(tmp_path))
    bars_before = sorted(p1.load_bars().collect())
    breadth_before = sorted(breadth.derive_breadth(p1.load_bars()).collect())

    ticks = pq.read_table(events)
    dropped = ticks.column("user_id")[0].as_py()
    pq.write_table(ticks.filter(pc.not_equal(ticks["user_id"], dropped)), events)

    assert sorted(p1.load_bars().collect()) == bars_before
    assert sorted(breadth.derive_breadth(p1.load_bars()).collect()) == breadth_before
    fresh = {r.symbol for r in Pipeline(spark, str(tmp_path)).load_bars().select("symbol").collect()}
    assert fresh == {r.symbol for r in bars_before} - {dropped}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_validate_data_quality_columns(spark, sf_dir):
    rep = Pipeline(spark, sf_dir).validate_data_quality()
    assert {"symbol", "quality_score", "missing_days", "dup_times"} <= set(rep.columns)


def _adversarial_ticks(path) -> None:
    """Ticks that every quality check fires on, written as an events table.
    2024-01-01 is a Monday."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    def at(day, hour):
        return dt.datetime(2024, 1, day, hour)

    rows = [  # (user_id, ts, value)
        # symbol 1: a duplicate time, a negative and a zero close, a
        # skipped weekday, and a last day whose only tick has a null value
        (1, at(1, 10), 10.0), (1, at(1, 10), 11.0), (1, at(1, 11), 12.0),
        (1, at(2, 10), -1.0), (1, at(2, 12), None), (1, None, 5.0),
        (1, at(2, 13), 7.0), (1, at(2, 13), None),
        (1, at(4, 10), 0.0), (1, at(5, 9), None),
        # symbol 2: a weekend tick and a duplicate zero close
        (2, at(6, 10), 3.0), (2, at(8, 10), 0.0), (2, at(8, 10), 0.0),
        # null symbol, with a duplicate and a negative close
        (None, at(3, 10), 1.0), (None, at(3, 10), -2.0), (None, None, None),
        (3, at(9, 15), 4.0),  # one tick
        (4, at(9, 15), None), (4, None, 1.0),  # no valid tick at all
    ]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array(["trade"] * len(rows)),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array([""] * len(rows)),
        }),
        path,
    )


def test_quality_rollup_equals_tick_level_report(spark, tmp_path):
    """The snapshot rollup equals quality_report on the tick series and the
    DuckDB oracle, row for row, on duplicates, nulls, non-positive closes,
    a day of only null closes and a one-tick symbol."""
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from market_data_pipeline_spark.operators import quality
    from market_data_pipeline_spark.sources.tables import series_from_events

    _adversarial_ticks(str(tmp_path / "events.parquet"))
    rolled = Pipeline(spark, str(tmp_path)).validate_data_quality()
    direct = quality.quality_report(series_from_events(spark, str(tmp_path)))
    assert rolled.dtypes == direct.dtypes
    got = rolled.collect()
    assert sorted(got, key=str) == sorted(direct.collect(), key=str)

    by_symbol = {r.symbol: r for r in got}
    assert set(by_symbol) == {1, 2, 3, None}
    one = by_symbol[1]
    assert (one.n_rows, one.n_days, one.dup_times, one.neg_close, one.zero_close) == (6, 3, 1, 1, 1)
    assert (str(one.last_day), one.missing_days) == ("2024-01-04", 1)
    assert by_symbol[2].dup_times == 1 and by_symbol[None].dup_times == 1
    assert by_symbol[3].n_rows == 1 and by_symbol[3].quality_score == 100.0

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    oracle = con.sql(
        "SELECT * REPLACE (CAST(freshness AS VARCHAR) AS freshness) FROM ("
        + entrymod.oracle_sql()["inv_a6a8_quality"] + ")"
    )
    cols = rolled.columns
    assert sorted(oracle.columns) == sorted(cols)
    want = sorted((tuple(r[oracle.columns.index(c)] for c in cols) for r in oracle.fetchall()), key=str)
    got_str = rolled.withColumn("freshness", F.col("freshness").cast("string")).collect()
    assert sorted(map(tuple, got_str), key=str) == want


def test_signal_report_markdown(spark, sf_dir):
    pipe = Pipeline(spark, sf_dir)
    sig = pipe.run_batch_analysis()
    md = reports.signal_report_markdown(sig)
    assert "# Daily Signal Report" in md and "## Recommendation counts" in md
    rep = pipe.validate_data_quality()
    md2 = reports.quality_report_markdown(rep)
    assert "Worst" in md2 and "quality_score" in md2


def test_package_exports():
    import market_data_pipeline_spark as pkg

    assert callable(pkg.get_spark) and callable(pkg.load_config)
    assert pkg.Pipeline.__name__ == "Pipeline"


def test_stratified_hash_sample_deterministic(spark, sf_dir):
    from market_data_pipeline_spark.operators.features import stratified_hash_sample
    from market_data_pipeline_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    s1 = stratified_hash_sample(d, "doc_id", 0.25)
    s2 = stratified_hash_sample(d, "doc_id", 0.25)
    n, total = s1.count(), d.count()
    assert n == s2.count()  # deterministic, unlike df.sample
    assert 0.1 < n / total < 0.45  # roughly the requested fraction
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids1 == ids2


def test_balanced_downsample_caps_every_class(spark, sf_dir):
    from market_data_pipeline_spark.operators.features import balanced_downsample
    from market_data_pipeline_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    out = balanced_downsample(d, by="lang", cap=20, key="doc_id")
    counts = {r.lang: r["count"] for r in out.groupBy("lang").count().collect()}
    orig = {r.lang: r["count"] for r in d.groupBy("lang").count().collect()}
    for lang, n in counts.items():
        assert n == min(20, orig[lang])  # capped, small classes kept whole
    # deterministic: rerun picks the identical subset
    ids1 = {r.doc_id for r in out.select("doc_id").collect()}
    ids2 = {r.doc_id for r in balanced_downsample(d, by="lang", cap=20, key="doc_id").select("doc_id").collect()}
    assert ids1 == ids2


def test_stratified_rates_keeps_rare_class_whole(spark, sf_dir):
    from market_data_pipeline_spark.operators.features import stratified_sample_rates
    from market_data_pipeline_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    out = stratified_sample_rates(
        o, by="o_orderstatus", rates={"F": 0.1, "O": 0.1}, key="o_orderkey", default_rate=1.0
    )
    kept = {r.o_orderstatus: r.n for r in out.groupBy("o_orderstatus").count().withColumnRenamed("count", "n").collect()}
    orig = {r.o_orderstatus: r.n for r in o.groupBy("o_orderstatus").count().withColumnRenamed("count", "n").collect()}
    assert kept["P"] == orig["P"]  # default_rate=1.0 class untouched
    assert 0.03 < kept["F"] / orig["F"] < 0.2  # thinned near the 10% target
    assert 0.03 < kept["O"] / orig["O"] < 0.2


def test_standardize_group_moments(spark, sf_dir):
    from pyspark.sql import functions as F

    from market_data_pipeline_spark.operators.features import standardize
    from market_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    out = standardize(li, cols=("l_extendedprice",), by="l_returnflag")
    stats = out.groupBy("l_returnflag").agg(
        F.avg("l_extendedprice_z").alias("mu"), F.stddev_samp("l_extendedprice_z").alias("sd")
    ).collect()
    for r in stats:
        assert abs(r.mu) < 1e-9
        assert abs(r.sd - 1.0) < 1e-9


def test_cli_curate_mode(spark, sf_dir, tmp_path, capsys):
    """--mode curate: the one-command LLM-corpus pipeline — dedup collapse
    + quality gate + temperature mixture report + parquet output."""
    from market_data_pipeline_spark.__main__ import main

    out = str(tmp_path / "curated")
    rc = main(["--mode", "curate", "--source", sf_dir, "--persist-to", out])
    assert rc == 0
    text_out = capsys.readouterr().out
    assert "curate:" in text_out and "lang=" in text_out
    curated = spark.read.parquet(out)
    assert curated.count() > 0
    assert set(curated.columns) == {
        "doc_id", "lang", "source", "n_tokens", "quality_score", "text"
    }
    # every kept doc satisfies the gate
    from pyspark.sql import functions as F

    assert curated.filter(
        (F.col("n_tokens") < 10) | (F.col("quality_score") < 0.5)
    ).count() == 0
