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
        sc.setJobGroup("quality_alone", "quality without bars")
        Pipeline(spark, sf_dir).validate_data_quality()
        assert not any(n.startswith("localCheckpoint") for n in _stage_names(spark, "quality_alone"))

        p = Pipeline(spark, sf_dir)
        bars = p.load_bars()
        assert p.load_bars() is bars
        plan = bars._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "parquet" not in plan and "relation" not in plan

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
