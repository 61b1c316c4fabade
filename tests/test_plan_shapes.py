"""Plan-shape regression tests: the at-scale invariants stay true as code
evolves. A correctness-green operator with the wrong plan is still a bug at
100 TB (repo rule: after correctness, read the plan)."""

from __future__ import annotations

from pyspark.sql import functions as F

from market_data_pipeline_spark.functions.helpers import series_window
from market_data_pipeline_spark.operators import indicators, relational
from market_data_pipeline_spark.plans import introspect
from market_data_pipeline_spark.sources.tables import bars_from_events, load_table


def test_indicator_chain_single_window_exchange(spark, sf_dir):
    """However many indicators stack, the shared window spec means ONE
    symbol-hash exchange on top of the bars aggregation's exchange."""
    bars = bars_from_events(spark, sf_dir)
    w = series_window(time_col="d")
    df = indicators.add_sma(bars, periods=(10, 20, 50), w=w)
    df = indicators.add_rsi(df, period=14, w=w)
    df = indicators.add_bollinger(df, w=w)
    df = indicators.add_volume_metrics(df, w=w)
    df = indicators.add_returns_momentum(df, w=w)
    # 1 exchange for groupBy(symbol, d) — with partial agg BELOW it, so
    # only combined bar partials shuffle — + 1 for Window.partitionBy(symbol)
    # over already-tiny bar rows. (A pre-agg repartition(symbol) would show
    # 1 exchange here but moves the raw tick stream: rejected in r3.)
    assert introspect.count_exchanges(df) == 2


def test_daily_update_one_window_per_level(spark, sf_dir):
    """``run_daily_update``'s seven native indicators are three dependency
    levels; two hold window expressions, so the executed plan has two
    ``Window`` operators (the sequential chain planned nine) over the EMA
    bucket exchange and the one symbol exchange."""
    import re

    from market_data_pipeline_spark.pipeline import Pipeline

    plan = Pipeline(spark, sf_dir).run_daily_update()._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bWindow \[", plan)) <= 2
    assert len(re.findall(r"\bExchange\b", plan)) <= 2


def test_dim_joins_broadcast(spark, sf_dir):
    """nation/region (and customer under AQE thresholds) must broadcast —
    a shuffled dim join at 100 TB is a plan bug."""
    df = relational.revenue_by_nation(spark, sf_dir)
    assert introspect.has_broadcast_join(df)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") == 7)
    pushed = " ".join(introspect.pushed_filters(ev))
    assert "user_id" in pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    schemas = " ".join(introspect.read_schemas(d))
    assert "doc_id" in schemas and "text" not in schemas


def test_events_scan_prunes_unused_columns(spark, sf_dir):
    """The series view must not drag props/event_type into the scan."""
    from market_data_pipeline_spark.sources.tables import series_from_events

    s = series_from_events(spark, sf_dir)
    schemas = " ".join(introspect.read_schemas(s))
    assert "props" not in schemas and "event_type" not in schemas


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Bucketed layout (the SCALE.md co-location story): both fact tables
    bucketed+sorted on the join key join WITHOUT any exchange on that key —
    at 100 TB this is the difference between a full-data shuffle and none."""
    import re

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_orders")).saveAsTable("b_orders")
    )
    (
        li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(tmp_path / "b_lineitem")).saveAsTable("b_lineitem")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert len(re.findall("Exchange hashpartitioning", plan)) == 0
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_equals_plain_join(spark):
    """Salting must not change results: skewed big side (90% one key) joined
    plain vs salted — identical row multisets."""
    from market_data_pipeline_spark.functions.skew import salted_join

    big_rows = [(1, i) for i in range(900)] + [(k, 1000 + k) for k in range(2, 102)]
    big = spark.createDataFrame(big_rows, "k long, payload long")
    small = spark.createDataFrame([(k, f"dim_{k}") for k in range(1, 102)], "k long, label string")

    plain = big.join(small, "k", "inner").select("k", "payload", "label")
    salted = salted_join(big, small, key="k", salt_from="payload", n_salts=8).select(
        "k", "payload", "label"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join keeps unmatched big rows too
    big2 = big.union(spark.createDataFrame([(999, 1)], "k long, payload long"))
    left_plain = big2.join(small, "k", "left").count()
    left_salted = salted_join(big2, small, "k", "payload", how="left").count()
    assert left_plain == left_salted


def test_asof_forward_same_exchange_shape_as_backward(spark, sf_dir):
    """Both as-of directions are ONE union + ONE per-key window pass — the
    forward variant must not regress into a range join or extra shuffle."""
    from market_data_pipeline_spark.operators import asof

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("sym"), F.col("ts").alias("t"), F.col("value").alias("v")
    )
    bars = bars_from_events(spark, sf_dir).select(
        F.col("symbol").alias("sym"),
        F.col("d").cast("timestamp").alias("bt"),
        F.col("close").alias("mark"),
    )
    back = asof.asof_join(ev, bars, "sym", "t", "bt", ["mark"])
    fwd = asof.asof_join(
        ev, bars, "sym", "t", "bt", ["mark"], direction="forward", tolerance_seconds=3600
    )
    assert introspect.count_exchanges(fwd) == introspect.count_exchanges(back)


def test_q6_predicates_push_to_scan(spark, sf_dir):
    """Q6's whole WHERE clause must reach the parquet reader."""
    df = relational.selective_revenue(spark, sf_dir)
    pushed = " ".join(introspect.pushed_filters(df))
    assert "l_discount" in pushed and "l_quantity" in pushed


def test_scalar_subquery_thresholds_broadcast(spark, sf_dir):
    """Q11/Q15/Q22-shaped scalar thresholds: the 1-row aggregate must enter
    the plan as a broadcast, never a shuffled join."""
    for df in (
        # the 1-row threshold enters as BroadcastNestedLoopJoin (cross with
        # the comparison pushed into the join) — still a broadcast, 1 row
        relational.supplier_value_share(spark, sf_dir),
        relational.top_revenue_suppliers(spark, sf_dir),
        relational.idle_rich_customers(spark, sf_dir),
    ):
        assert "Broadcast" in introspect.explain_str(df, "simple")


def test_q10_preaggregates_below_customer_join(spark, sf_dir):
    """Q10: the per-orderkey partial aggregate runs BEFORE the customer
    join, so the join probe side is O(orders), not O(lineitem)."""
    df = relational.returned_item_losses(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    first_agg = plan.find("HashAggregate")
    first_smj = plan.find("SortMergeJoin")
    # the formatted tree prints downstream operators first; the aggregate
    # feeding the join must appear BELOW (after) the join header line
    assert first_agg != -1
    assert first_smj == -1 or plan.rfind("HashAggregate") > first_smj


def test_kmeans_centroids_broadcast(spark, sf_dir):
    from market_data_pipeline_spark.operators import similarity

    e = load_table(spark, sf_dir, "embeddings")
    df = similarity.assign_nearest_centroid(e)
    # k centroid rows enter via BroadcastNestedLoopJoin (broadcast cross)
    assert "Broadcast" in introspect.explain_str(df, "simple")


def test_q7_dims_broadcast_and_pair_filter_prunes(spark, sf_dir):
    """Q7: supplier + both nation roles broadcast; the only non-broadcast
    exchanges are the fact-side join/agg shuffles."""
    df = relational.volume_shipping(spark, sf_dir)
    plan = introspect.explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 3
    # the date filter must reach the lineitem scan
    assert any("l_shipdate" in p for p in introspect.pushed_filters(df))


def test_q16_dedup_happens_below_aggregate(spark, sf_dir):
    """Q16: the (partkey, suppkey) dedup must sit BELOW the brand/type/size
    aggregate — the agg input is the deduped relation, not raw lineitem."""
    df = relational.supplier_part_variety(spark, sf_dir)
    plan = introspect.explain_str(df, "formatted")
    # dedup shows up as a HashAggregate keyed on the pair before the join
    assert "l_partkey" in plan and "l_suppkey" in plan
    # and raw shipment columns never enter the scan
    schemas = " ".join(introspect.read_schemas(df))
    assert "l_extendedprice" not in schemas and "l_quantity" not in schemas


def test_q21_single_fact_pass_not_self_joins(spark, sf_dir):
    """Q21's two correlated EXISTS are decorrelated into one per-order
    aggregate: lineitem must be scanned at most twice (flagged + reuse),
    never the 3× a naive exists/not-exists double self-join would cost."""
    df = relational.late_sole_blame_suppliers(spark, sf_dir)
    plan = introspect.explain_str(df, "formatted")
    assert plan.count("lineitem.parquet") <= 2


def test_q19_part_predicate_pushed_to_dim_scan(spark, sf_dir):
    """Q19's derived brand/size OR-predicate must prune the part dim at the
    scan, not post-join."""
    df = relational.disjunctive_band_revenue(spark, sf_dir)
    pushed = " ".join(introspect.pushed_filters(df))
    assert "p_brand" in pushed or "p_size" in pushed


def test_aqe_splits_skewed_join_partitions(spark):
    """The engine's skew posture is AQE, not hand-tuning: with a 95%-hot
    key and thresholds scaled to the test data, the FINAL adaptive plan
    must mark the join skew=true and read the hot partition as multiple
    splits (AQEShuffleRead ... skewed). At 100 TB the same mechanism fires
    at the default 256 MB thresholds."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        fact = spark.range(0, 400000).select(
            F.when(F.col("id") % 50 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.rand(7).alias("v"),
        )
        dim = spark.range(0, 400000).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
        j = fact.join(dim, "k").groupBy("tag").agg(F.count(F.lit(1)).alias("n"))
        [row] = j.collect()
        assert row["n"] == 400000  # hot key 0 joins dim key 0 exactly once per fact row
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """When the dim side of a shuffled join carries a selective predicate,
    Catalyst injects a runtime Bloom filter (`might_contain` over a
    bloom_filter_agg scalar subquery) on the fact side — fact rows that
    cannot join are dropped AT THE SCAN, before the shuffle. At 100 TB this
    is the difference between shuffling the whole fact table and shuffling
    the ~1% that survives. Thresholds are lowered here because local
    testdata is far below the production defaults (10 GB scan side)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        # the filter must sit on the FACT (lineitem) side scan
        fact_side = plan[plan.index("might_contain"):]
        assert "l_orderkey" in fact_side.split("\n")[0]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _global_window_lines(plan: str) -> list[str]:
    """Physical-plan lines whose node is an UNPARTITIONED Window. Printed
    forms: `Window [exprs]` (one group — unpartitioned, unordered),
    `Window [exprs], [order ASC/DESC]` (two groups — unpartitioned,
    ordered), `Window [exprs], [partition]` (two groups — PARTITIONED
    whole-frame window, fine at scale: r8's hurst chunk-mean), and
    `Window [exprs], [partition], [order]` (three groups). Only the
    first two funnel every row through one task; a two-group line is
    unpartitioned exactly when its second group is an ORDER spec
    (contains ASC/DESC sort directions)."""
    import re

    out = []
    for line in plan.splitlines():
        m = re.search(r"\bWindow (\[.*)$", line)
        if not m:
            continue
        rest, groups, depth, cur = m.group(1), [], 0, ""
        for ch in rest:
            if ch == "[":
                depth += 1
            if depth > 0:
                cur += ch
            if ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(cur)
                    cur = ""
        if len(groups) == 1 or (
            len(groups) == 2
            and (" ASC" in groups[1] or " DESC" in groups[1])
        ):
            out.append(line.strip())
    return out


def test_every_registered_query_plan_is_scale_clean(registry_sweep):
    """Engine-wide physical-plan audit: no registered query may contain a
    row-at-a-time Python UDF (BatchEvalPython — the 10-100× slow path; all
    Python hops must be Arrow-vectorized), an unhinted CartesianProduct
    (the O(n·m) shuffle killer; non-equi joins must broadcast one side), or
    an UNPARTITIONED window over a corpus-scale frame (single-partition
    WindowExec — the r4-verdict zipf/HITS failure class).

    The global-window allowlist names ONLY queries whose windowed frame is
    bounded by the trading CALENDAR, the listed-symbol universe (per-date
    market aggregates, month series, one week's symbol ranking), or a
    CLOSED CATEGORICAL domain (order statuses, language codes — the
    share-of-total pattern over an already-aggregated O(domain) frame) —
    never by corpus/vocabulary/graph size, which grow without bound at
    100 TB.

    The plans come from the shared ``registry_sweep`` (each frame built
    once for this audit and the run check). Streaming queries and the
    iterative kmeans fit execute on build, so they are skipped here — their
    batch components are covered elsewhere — and this audit covers every
    batch plan the driver runs.
    """
    allowed_rowwise = {"inv_s_statement_udtf"}  # the deliberate UDTF surface
    allowed_global_window = {
        "inv_a_mom_growth",  # lag over the O(months) revenue series
        "inv_o6_weekly_topbottom",  # rank symbols within ONE week
        "inv_w16_rolling_corr",  # O(trading days) aligned pair series
        "inv_w20_market_summary",  # latest-date pick on per-date aggregate
        "inv_w_rolling_corr",  # O(trading days) aligned pair series
        "inv_a14_run_summary",  # share-of-total over O(statuses) aggregate
        "inv_x_temperature_mix",  # share-of-total over O(languages) agg
        "inv_x_neyman_alloc",  # largest-remainder rank over O(strata) agg
        # unigram-LM trainer renormalizer (r9): share-of-total over the
        # piece-count frame, bounded by the ALPHABET (Σ_{j≤3} 26^j =
        # 18 278 pieces max regardless of corpus size — the same closed-
        # domain argument that statically broadcasts the piece table)
        "inv_t_unigram_lm",
        "inv_t_unigram_encode",
        "inv_t_maxmatch_encode",
        "inv_t_unigram_ppl",
    }
    skipped = 0
    audited = 0
    for name, rec in registry_sweep.items():
        if rec["on_build"]:
            skipped += 1  # execute on build (stream run / iterative loop)
            continue
        plan = rec["plan"]
        if plan is None:
            raise AssertionError(f"{name}: not planned") from rec["error"]
        audited += 1
        if name not in allowed_rowwise:
            assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        if name not in allowed_global_window:
            glines = _global_window_lines(plan)
            assert not glines, (
                f"{name}: unpartitioned Window (single-partition stage): "
                f"{glines[0][:120]}"
            )
    # the inv_st_ streaming queries (incl. the round-7 CMS heavy hitters +
    # HLL distinct and the round-8 binned-quantile store) + the iterative
    # kmeans_fit loop execute on build and are skipped; the bound tracks
    # the streaming-family count loosely so a legitimate new stream entry
    # doesn't false-alarm, while a mass-skip regression still would
    assert audited > 140 and skipped <= 20


def test_ema_bucket_count_derives_from_parallelism(spark, sf_dir):
    """Round-1 verdict #3: the EMA stage must never cap below the cluster's
    parallelism — the bucket-key literal in the plan is
    max(64, defaultParallelism), not a fixed 64."""
    bars = bars_from_events(spark, sf_dir).select("symbol", "d", "close")
    df = indicators.add_ema_macd(bars, spans=(12, 26), time_col="d")
    want = max(64, spark.sparkContext.defaultParallelism)
    plan = introspect.explain_str(df, "extended")
    assert f"pmod(xxhash64(symbol" in plan and f", {want})" in plan, (
        f"EMA bucket literal {want} not found in plan"
    )
    # an explicit override still wins
    df2 = indicators.add_ema_macd(bars, spans=(12,), time_col="d", buckets=7)
    assert ", 7)" in introspect.explain_str(df2, "extended")


def test_composite_signal_scan_plan_shape(spark, sf_dir):
    """Round-1 verdict #1: the fused W14 plan pays exactly TWO exchanges —
    bars agg (partial combine below the shuffle) + ONE native window stage
    over tiny bar rows — with the EMA/latest-row pass a shuffle-free
    mapInPandas over the window stage's symbol-clustered partitions, and
    nothing after it (scoring is a pure projection over the O(symbols)
    latest rows)."""
    from market_data_pipeline_spark.operators import screeners
    from market_data_pipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir).select("symbol", "d", "close", "volume")
    df = screeners.composite_signal_scan(bars, time_col="d")
    assert introspect.count_exchanges(df) == 2
    plan = introspect.explain_str(df, "formatted")
    assert "MapInPandas" in plan
    # no exchange downstream of the pandas stage (formatted mode prints the
    # tree root-first, so every line before the pandas node is downstream
    # of it)
    tree = plan.split("(1) Scan")[0]
    pandas_pos = tree.index("MapInPandas")
    assert "Exchange" not in tree[:pandas_pos], (
        "exchange above the pandas stage: scoring must stay a projection"
    )


def test_equidepth_histogram_has_no_single_partition_stage(spark, sf_dir):
    """The exact equi-depth histogram must rank via the two-pass
    distributed scheme (range exchange + Arrow cumcount), never an
    un-partitioned window — no stage of the plan may collapse to a single
    partition, and the rank pass must be the Arrow hop."""
    from market_data_pipeline_spark.operators import quality
    from market_data_pipeline_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    df = quality.histogram_equidepth(o, "o_totalprice", bins=10, tiebreak="o_orderkey")
    plan = introspect.explain_str(df, "formatted")
    assert "SinglePartition" not in plan, "equi-depth rank collapsed to one task"
    assert "Window" not in plan, "global window snuck back into the rank pass"
    assert "MapInPandas" in plan


def test_dynamic_partition_pruning_on_partitioned_store(spark, sf_dir, tmp_path):
    """A fact table laid out with partitionBy(key) must be pruned AT
    PLANNING/RUNTIME when joined to a dim carrying a selective predicate:
    Catalyst injects a DynamicPruning subquery on the fact scan's
    partition column, so only the partitions whose keys survive the dim
    filter are ever listed or read. At 100 TB this is the storage-level
    twin of the runtime Bloom filter — whole directories skipped, not
    rows. Pinned here because the engine's own stores write
    partitionBy(symbol)/partitionBy(date) layouts (pipeline.persist_to,
    merge_daily_partitions) and the 1000-executor read path relies on the
    pruning actually firing."""
    store = str(tmp_path / "events_by_region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    # a fact store partitioned by nation key (25 dirs)
    cust.write.mode("overwrite").partitionBy("c_nationkey").parquet(store)
    fact = spark.read.parquet(store)
    dim = nation.filter(F.col("n_name") == "NATION_7")
    confs = {
        # local testdata is far under the broadcast threshold; DPP via
        # broadcast reuse is the production path, so let it broadcast
        "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = (
            fact.join(dim, fact.c_nationkey == dim.n_nationkey)
            .groupBy("n_name")
            .agg(F.sum("c_acctbal").alias("bal"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        # and the pruning must sit on the partitioned fact scan's
        # partition column
        idx = plan.lower().index("dynamicpruning")
        assert "c_nationkey" in plan[max(0, idx - 500): idx + 500]
        # semantics: one nation's customers only
        rows = j.collect()
        assert len(rows) == 1 and rows[0]["n_name"] == "NATION_7"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
