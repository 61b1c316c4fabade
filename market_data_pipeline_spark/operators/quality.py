"""Data-quality validation: the reference's ``--mode validate`` as one
aggregate per symbol.

Reference parity: /root/reference/src/pipeline.py:377-406 — business-day
completeness, duplicate timestamps, negative closes, zero-volume bars,
freshness, and a 0-100 quality score. The reference runs five separate pandas
passes per symbol; here it is one groupBy(symbol).agg().

Two ways in, one result. ``quality_report`` aggregates a tick-level series
(one scan, two ``countDistinct``s planned as an Expand). ``quality_rollup``
reads per-(symbol, day) partials (``day_partials``) that
``pipeline.Pipeline.load_bars`` aggregates next to the daily bars, so a
``Pipeline`` that validates scans the ticks once: the rollup is a shuffle of
one row per bar. Every column rolls up exactly because a time fixes its day:
duplicate times per symbol are the sum of duplicate times per day.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from market_data_pipeline_spark.functions.helpers import clip


def quality_report(df: DataFrame, symbol_col="symbol", time_col="time", close_col="close") -> DataFrame:
    """Per-symbol quality metrics + score.

    quality_score = max(0, 100 − 10·issues) (pipeline.py:400) where an issue
    is each check with a nonzero count; business-day completeness compares
    distinct observed dates with the Mon-Fri count in [min,max]
    (pipeline.py:385-390) computed via a datediff expression instead of a
    generated calendar — no extra join.
    """
    d = F.to_date(time_col)
    agg = df.groupBy(symbol_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(d).alias("n_days"),
        F.min(d).alias("first_day"),
        F.max(d).alias("last_day"),
        F.max(time_col).alias("freshness"),
        (F.count(F.lit(1)) - F.countDistinct(time_col)).alias("dup_times"),
        F.sum(F.when(F.col(close_col) < 0, 1).otherwise(0)).alias("neg_close"),
        F.sum(F.when(F.col(close_col) == 0, 1).otherwise(0)).alias("zero_close"),
    )
    return _score(agg)


DAY_PARTIALS = ("q_rows", "q_dup_times", "q_freshness", "q_neg_close", "q_zero_close")


def with_dup_times(ticks: DataFrame) -> DataFrame:
    """Raw ticks (``symbol``, ``d``, ``ts``, ``value``) plus ``__dup_time``:
    true on a valid tick whose time equals the previous valid tick's time of
    its (symbol, day), so the valid ticks of a day minus these are its
    distinct valid times. The window is keyed by (symbol, day, validity): a
    frame already hash-partitioned on (symbol, day) needs no new exchange."""
    ok = F.col("ts").isNotNull() & F.col("value").isNotNull()
    w = Window.partitionBy("symbol", "d", ok).orderBy("ts")
    return ticks.withColumn("__dup_time", ok & (F.lag("ts", 1).over(w) == F.col("ts")))


def day_partials() -> list[Column]:
    """Aggregates, per (symbol, day) group of :func:`with_dup_times` ticks,
    of what ``quality_report`` sees of that day: valid rows, duplicate valid
    times, the last valid time, negative and zero closes. A tick is valid
    when ``ts`` and ``value`` are both non-null — the rows
    ``series_from_events`` keeps — so a day of only null closes counts 0
    rows. Named ``DAY_PARTIALS``; ``quality_rollup`` reads them."""
    t, c = F.col("ts"), F.col("value")
    ok = t.isNotNull() & c.isNotNull()
    return [
        F.count(F.when(ok, 1)).alias("q_rows"),
        F.count(F.when(F.col("__dup_time"), 1)).alias("q_dup_times"),
        F.max(F.when(ok, t)).alias("q_freshness"),
        F.count(F.when(ok & (c < 0), 1)).alias("q_neg_close"),
        F.count(F.when(ok & (c == 0), 1)).alias("q_zero_close"),
    ]


def quality_rollup(partials: DataFrame) -> DataFrame:
    """``quality_report`` of the tick series, from (symbol, d, *DAY_PARTIALS)
    rows. Days without a valid row are dropped first, as the series drops
    their ticks. ``dup_times`` is the duplicate times summed over days,
    which is exact: a time lies in one day only."""
    agg = (
        partials.filter(F.col("q_rows") > 0)
        .groupBy("symbol")
        .agg(
            F.sum("q_rows").alias("n_rows"),
            F.count(F.lit(1)).alias("n_days"),
            F.min("d").alias("first_day"),
            F.max("d").alias("last_day"),
            F.max("q_freshness").alias("freshness"),
            F.sum("q_dup_times").alias("dup_times"),
            F.sum("q_neg_close").alias("neg_close"),
            F.sum("q_zero_close").alias("zero_close"),
        )
    )
    return _score(agg)


def _score(agg: DataFrame) -> DataFrame:
    """Expected business days, missing days and the quality score on a
    per-symbol frame of n_days, first_day, last_day, dup_times, neg_close
    and zero_close."""
    # Mon-Fri business days in [first_day, last_day]: full weeks contribute 5
    # each; the remainder is resolved from the start weekday. weekday(): 0=Mon.
    span = F.datediff(F.col("last_day"), F.col("first_day")) + 1
    full_weeks = F.floor(span / 7)
    rem = span % 7
    start_dow = F.weekday(F.col("first_day"))
    rem_bus = F.greatest(F.lit(0), F.least(rem, F.lit(5) - start_dow)) + F.greatest(
        F.lit(0), rem - (F.lit(7) - start_dow)
    )
    agg = agg.withColumn("expected_bdays", (full_weeks * 5 + rem_bus).cast("long"))
    agg = agg.withColumn(
        "missing_days", F.greatest(F.lit(0), F.col("expected_bdays") - F.col("n_days")).cast("long")
    )
    issues = (
        F.when(F.col("missing_days") > 0, 1).otherwise(0)
        + F.when(F.col("dup_times") > 0, 1).otherwise(0)
        + F.when(F.col("neg_close") > 0, 1).otherwise(0)
        + F.when(F.col("zero_close") > 0, 1).otherwise(0)
    )
    return agg.withColumn(
        "quality_score", clip(F.lit(100.0) - 10.0 * issues, 0.0, None)
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Generic data-profiling operator: one row per column with null count,
    exact distinct count, and min/max (as strings, so any column type fits
    one output schema). The §3.3 validation idea (pipeline.py:377-406)
    generalized from OHLCV to any table.

    ONE aggregation job for all columns — per-column stats are computed in
    a single pass (Spark expands multi-distinct internally, still one
    shuffle round), then pivoted to long form by exploding an array of
    structs; never a per-column scan of the table.
    """
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_val"),
                F.col(f"__max_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


def histogram(
    df: DataFrame,
    col: str,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equal-width histogram of a numeric column: (bin, lo_edge, hi_edge,
    n). With explicit ``lo``/``hi`` bounds the plan is ONE scan + one tiny
    groupBy on the bin index; without them a first min/max pass derives the
    range (two scans — pass bounds at 100 TB). Values at the upper bound
    land in the last bin, matching width_bucket conventions clamped to
    ``bins``.
    """
    if lo is None or hi is None:
        row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    width = (hi - lo) / bins
    idx = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("int")),
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(idx.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("lo_edge", F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6))
        .withColumn("hi_edge", F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width), 6))
        .select("bin", "lo_edge", "hi_edge", "n")
    )


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    bins: int = 16,
    lo: float = 0.0,
    hi: float = 1.0,
    alpha: float = 0.5,
) -> DataFrame:
    """Corpus drift between two dataset snapshots: both sides histogrammed
    on SHARED fixed edges (same clamped equal-width bucketing as
    :func:`histogram`), Laplace-smoothed into rates, reduced to one row of
    divergence stats — symmetric KL, Jensen-free and finite by smoothing,
    plus total-variation distance. The detector you run between crawl
    snapshots or mixture revisions before a token of training happens.

    Plan: one scan + tiny bucket agg PER SIDE, a bucket-spine outer join
    (O(bins)), one reduce — never a sort, never a pairwise op. Pass
    explicit ``lo``/``hi`` (at 100 TB a min/max pre-pass is a separate,
    cacheable job; fixed edges also keep snapshots comparable over time).

    Smoothing: p_i = (c_i + α) / (n + α·bins) — zero-count buckets stay
    finite in both directions of the KL.
    """
    width = (hi - lo) / bins

    def side(df: DataFrame, name: str) -> DataFrame:
        idx = F.least(
            F.lit(bins - 1),
            F.greatest(
                F.lit(0), F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("int")
            ),
        )
        return (
            df.filter(F.col(col).isNotNull())
            .select(idx.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(name))
        )

    spark = df_a.sparkSession
    spine = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    joined = (
        spine.join(side(df_a, "n_a"), "bin", "left")
        .join(side(df_b, "n_b"), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    tot = joined.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    rates = joined.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        ((F.col("n_a") + F.lit(alpha)) / (F.col("ta") + F.lit(alpha * bins))).alias("p"),
        ((F.col("n_b") + F.lit(alpha)) / (F.col("tb") + F.lit(alpha * bins))).alias("q"),
    )
    return rates.agg(
        F.sum("n_a").cast("bigint").alias("n_a"),
        F.sum("n_b").cast("bigint").alias("n_b"),
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias("kl_ab"),
        F.round(F.sum(F.col("q") * F.log(F.col("q") / F.col("p"))), 6).alias("kl_ba"),
        F.round(F.sum(F.abs(F.col("p") - F.col("q"))) / 2.0, 6).alias("tvd"),
    )


def histogram_equidepth(
    df: DataFrame, col: str, bins: int = 10, tiebreak: str | None = None
) -> DataFrame:
    """Equi-depth (equal-count) histogram via ntile: each bin holds ~n/bins
    rows; emits per-bin row count and value bounds — the optimizer-statistics
    view of a column's distribution (equal-width hides skew; equi-depth
    exposes it).

    Exact equi-depth needs a TOTAL ORDER — but ``ntile() OVER (ORDER BY …)``
    is NOT how to get one in Spark: an un-partitioned window funnels every
    row through ONE task (WindowExec warns and single-threads), which is a
    dead end at scale. Instead this runs the classic two-pass distributed
    rank:

      1. ``repartitionByRange`` on (col, tiebreak) — the sampled-bounds
         exchange a global sort uses, so skew cannot overload a task — then
         an in-partition sort, pinned with ``localCheckpoint`` (2 narrow
         columns only).
      2. Per-partition row counts to the driver (P integers — the same
         scale of metadata AQE collects) become global rank offsets; an
         Arrow ``mapInPandas`` cumcount adds offset + local index and maps
         the rank to its ntile bin in closed form (first n % bins bins get
         one extra row — bit-identical to SQL ``ntile``).

    Every stage is parallel; the only driver traffic is P longs. The cheap
    swap remains approx_percentile(col, quantiles) in one pass when
    ±ε-accurate edges are enough.
    """
    import pandas as pd

    # a unique tiebreak makes bin membership (hence per-bin min/max)
    # deterministic when values tie across a bin boundary
    keys = [F.col(col)] + ([F.col(tiebreak)] if tiebreak else [])
    ranked_in = (
        df.filter(F.col(col).isNotNull())
        .select(*keys)
        .repartitionByRange(*keys)
        .sortWithinPartitions(*keys)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    per_part = {
        r["__pid"]: r["cnt"]
        for r in ranked_in.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n_total = sum(per_part.values())
    offsets = {}
    acc = 0
    for pid in sorted(per_part):
        offsets[pid] = acc
        acc += per_part[pid]
    small, extra = ((n_total // bins, n_total % bins) if bins else (0, 0))

    def assign_bins(batches):
        seen = 0
        for pdf in batches:
            if pdf.empty:
                continue
            import numpy as np

            start = offsets[int(pdf["__pid"].iloc[0])] + seen
            rank0 = np.arange(start, start + len(pdf), dtype="int64")
            big = small + 1
            in_extra = rank0 < extra * big
            bin_no = np.zeros(len(pdf), dtype="int64")
            bin_no[in_extra] = rank0[in_extra] // big + 1
            if small > 0:
                rest = rank0[~in_extra]
                bin_no[~in_extra] = extra + (rest - extra * big) // small + 1
            seen += len(pdf)
            yield pd.DataFrame({"val": pdf[col].to_numpy(), "bin": bin_no})

    binned = ranked_in.mapInPandas(assign_bins, schema="val double, bin int")
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("val"), 4).alias("lo_val"),
        F.round(F.max("val"), 4).alias("hi_val"),
    )


def global_rank(
    df: DataFrame, order_by: list[tuple[str, bool]], rank_col: str = "rank"
) -> DataFrame:
    """Total-order ``row_number`` WITHOUT the single-partition window.

    ``row_number() OVER (ORDER BY …)`` with no PARTITION BY funnels every row
    through one task (WindowExec warns, then single-threads) — unusable when
    the ranked frame grows with the corpus (e.g. a web-scale vocabulary).
    This is the same two-pass distributed rank ``histogram_equidepth`` uses:

      1. ``repartitionByRange`` on the order columns (sampled range bounds —
         the exchange a global sort would use) + in-partition sort, pinned
         with ``localCheckpoint`` so pass 2 reuses the placement.
      2. Per-partition counts to the driver (P longs only) become rank
         offsets; an Arrow ``mapInPandas`` cumcount adds offset + local
         index. Ranks are 1-based and bit-identical to ``row_number`` over
         the same total order.

    ``order_by`` is ``[(col, ascending), …]`` and MUST be a total order
    (include a unique tiebreak) for deterministic ranks.
    """
    import numpy as np
    import pandas as pd

    sort_exprs = [
        (F.col(c).asc() if asc else F.col(c).desc()) for c, asc in order_by
    ]
    part = (
        df.repartitionByRange(*sort_exprs)
        .sortWithinPartitions(*sort_exprs)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    per_part = {
        r["__pid"]: r["cnt"]
        for r in part.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(per_part):
        offsets[pid] = acc
        acc += per_part[pid]

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [f for f in df.schema.fields] + [StructField(rank_col, LongType(), False)]
    )

    def add_rank(batches):
        seen = 0
        for pdf in batches:
            if pdf.empty:
                continue
            start = offsets[int(pdf["__pid"].iloc[0])] + seen
            out = pdf.drop(columns=["__pid"])
            out[rank_col] = np.arange(start + 1, start + 1 + len(pdf), dtype="int64")
            seen += len(pdf)
            yield out

    return part.mapInPandas(add_rank, schema=out_schema)


def sketch_accuracy(
    df: DataFrame,
    by: str,
    distinct_col: str,
    value_col: str,
    hll_rsd: float = 0.05,
    pct_tol: float = 0.01,
) -> DataFrame:
    """Approximate-sketch profiling with its accuracy contract in the output:
    per ``by`` group, the EXACT distinct count and median next to booleans
    asserting the mergeable sketches (HyperLogLog++ ``approx_count_distinct``,
    KLL-style ``approx_percentile``) landed within tolerance of exact.

    At 100 TB the exact forms are the wrong tool — ``count(distinct)`` needs
    a full re-shuffle on the distinct key and exact ``percentile`` buffers
    per-group values; the sketches are single-pass, fixed-memory, and
    map-side mergeable. This operator exists so the swap is REGRESSION-
    GUARDED: the oracle expects every ``*_ok`` flag TRUE, so a tolerance
    break fails the gate rather than silently degrading.
    """
    from pyspark.sql import functions as F

    g = df.groupBy(by).agg(
        F.countDistinct(distinct_col).alias("exact_distinct"),
        F.approx_count_distinct(distinct_col, rsd=hll_rsd / 2).alias("__approx_d"),
        F.expr(f"percentile({value_col}, 0.5)").alias("__exact_p50"),
        F.expr(f"approx_percentile({value_col}, 0.5, 10000)").alias("__approx_p50"),
    )
    return g.select(
        by,
        "exact_distinct",
        (
            F.abs(F.col("__approx_d") - F.col("exact_distinct"))
            <= F.col("exact_distinct") * hll_rsd
        ).alias("hll_ok"),
        F.round("__exact_p50", 4).alias("exact_p50"),
        (
            F.abs(F.col("__approx_p50") - F.col("__exact_p50"))
            <= F.abs(F.col("__exact_p50")) * pct_tol
        ).alias("p50_ok"),
    )


def sketch_rollup_distinct(
    df: DataFrame,
    fine_grain_col,
    coarse_grain_col,
    distinct_col: str,
    tol: float = 0.05,
) -> DataFrame:
    """Mergeable-sketch hierarchical distinct counting: build ONE HLL
    (DataSketches) sketch per fine grain (e.g. day), then answer ANY
    coarser range (week, month, arbitrary span) by UNIONING sketches —
    never rescanning the fact table. The incremental pattern behind
    "distinct users per day → per any date range" dashboards at 100 TB:
    the daily sketch build is the only pass over raw data; every rollup
    thereafter is O(days · sketch_size).

    Output carries the accuracy contract (exact vs union-estimate within
    ``tol``) so the gate regression-guards the swap, same as
    ``sketch_accuracy``.
    """
    from pyspark.sql import functions as F

    fine = df.groupBy(
        fine_grain_col.alias("__fine"), coarse_grain_col.alias("__coarse")
    ).agg(F.hll_sketch_agg(distinct_col).alias("__sk"))
    rolled = fine.groupBy("__coarse").agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__est"),
        F.count(F.lit(1)).alias("n_fine_grains"),
    )
    exact = df.groupBy(coarse_grain_col.alias("__coarse")).agg(
        F.countDistinct(distinct_col).alias("exact_distinct")
    )
    return (
        rolled.join(exact, "__coarse")
        .select(
            F.col("__coarse").alias("period"),
            "n_fine_grains",
            "exact_distinct",
            (
                F.abs(F.col("__est") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * tol
            ).alias("union_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch — bounded-memory frequency estimation (north-star
# extension; reference has no sketches). The counter table is width·depth
# cells regardless of key cardinality, so at 100 TB the heavy-hitter scan
# costs one map-side-combined shuffle into a few KB of state — the reason
# CMS exists. The hash family is deterministic multiply-shift (Knuth
# constant + per-row odd seeds), so any engine reproduces the sketch
# bit-for-bit: estimates are exactly checkable, not just within tolerance.
# ---------------------------------------------------------------------------

_CMS_KNUTH = 2654435761
_CMS_SEEDS = (0x9E3779B1, 0x85EBCA77, 0xC2B2AE3D, 0x27D4EB2F)


# NULL keys map to a fixed sentinel so they hash to real buckets: a NULL
# bucket would fall out of the (null-unsafe) probe join and a NULL-keyed
# heavy hitter would be silently MISSED — breaking the no-false-negative
# guarantee. Colliding with the sentinel's numeric value merely overcounts,
# which CMS already permits.
_CMS_NULL_SENTINEL = -771947089


def _cms_bucket(key: Column, row: int, width: int) -> Column:
    """Deterministic bucket for hash row ``row``: pmod(key·KNUTH + seed_row,
    width). Keys are bigint; the multiply stays in int64 for any realistic
    id (wrap would need |key| > ~3.5e9 — and ANSI mode is off regardless)."""
    return F.pmod(
        F.coalesce(key.cast("bigint"), F.lit(_CMS_NULL_SENTINEL))
        * F.lit(_CMS_KNUTH)
        + F.lit(_CMS_SEEDS[row]),
        F.lit(width),
    )


def _cms_probes(key: Column, width: int, depth: int) -> Column:
    """The exploded (row, bucket) probe array — ONE definition shared by the
    counter build and the estimate join, so the hash family can never drift
    between the two sides."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("row"),
                    _cms_bucket(key, r, width).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
    )


def cms_counters(
    df: DataFrame, key_col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Build the count-min counter table: (row, bucket, cnt) — depth·width
    cells. One explode(depth) + one map-side-combined groupBy; the shuffle
    output is O(width·depth) per partition, independent of input size."""
    return (
        df.select(_cms_probes(F.col(key_col), width, depth).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    min_count: int = 100,
) -> DataFrame:
    """Heavy hitters by count-min estimate: every key whose CMS estimate
    (min over the depth rows of its counter) reaches ``min_count``, with
    the estimate and the exact count side by side.

    CMS guarantees estimate >= true count (only overcounts), so this
    NEVER misses a true heavy hitter — the classic no-false-negative scan.
    The candidate set here is the distinct keys (exact at test scale); at
    100 TB you'd feed a sampled/streamed candidate list instead — the
    counter table and estimate join are the scale-invariant parts.
    """
    counters = cms_counters(df, key_col, width=width, depth=depth)
    exact = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("exact_count"))
    return cms_estimate_join(
        counters, exact, key_col, width=width, depth=depth, min_count=min_count
    )


def cms_estimate_join(
    counters: DataFrame,
    candidates: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    min_count: int = 100,
) -> DataFrame:
    """Estimate candidate counts against a prebuilt CMS counter table —
    the read side of the sketch, shared by the batch scan
    (``cms_heavy_hitters``) and the streaming twin (whose counters arrive
    from the stateful running aggregation; the bucket counts are plain
    sums, so a stream's final emission IS the batch counter table).
    ``candidates``: (key, exact_count). Same no-false-negative contract;
    the counter table is O(width·depth) and broadcasts."""
    probes = candidates.select(
        key_col,
        "exact_count",
        _cms_probes(F.col(key_col), width, depth).alias("rb"),
    ).select(
        key_col,
        "exact_count",
        F.col("rb.row").alias("row"),
        F.col("rb.bucket").alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy(key_col, "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.filter(F.col("cms_estimate") >= min_count).select(
        F.col(key_col),
        F.col("cms_estimate"),
        F.col("exact_count"),
        (F.col("cms_estimate") >= F.col("exact_count")).alias("never_undercounts"),
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog — an ENGINE-REPRODUCIBLE distinct sketch (north-star
# extension; complements sketch_rollup_distinct, whose DataSketches HLL is
# only tolerance-checkable). Every step here is integer or exact-binary
# float math, so DuckDB rebuilds the identical registers and the estimate
# matches BIT-FOR-BIT — the sketch itself is value-oracle-checkable.
# Flajolet et al. 2007 semantics: m=2^p registers, register j = max over
# keys of (leading-zero run of the hash remainder)+1, E = alpha·m²/Σ2^-M,
# linear-counting correction below 2.5·m when registers are empty.
# ---------------------------------------------------------------------------

_HLL_P = 6                      # 64 registers — ~13% standard error
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 31 - _HLL_P        # hash remainder width (25 bits)
_HLL_ALPHA = 0.709              # the published alpha_64 constant


def _hll_fields(key: Column) -> tuple[Column, Column]:
    """(bucket, rho) for one key under the shared engine-portable hash.

    CMS can live with the plain affine multiply-shift (collisions only
    overcount), but HLL's rho statistic needs AVALANCHE: affine maps mod
    2^31 send arithmetic key progressions to arithmetic progressions, and
    a register table built from consecutive integer ids measured 3× off
    (est 177 for 60 keys) with identical sketches for shifted key sets.
    Two xor-shift rounds around a second multiply (the xxhash-finalizer
    shape, all int64-safe, xor/>> exist in both engines) break the
    affinity. bucket = low p bits, rho = leading-zero run of the
    remaining ``_HLL_WBITS`` bits + 1 via binary-string length (``bin()``
    in both engines; no float log anywhere).
    """
    h0 = F.pmod(
        F.coalesce(key.cast("bigint"), F.lit(_CMS_NULL_SENTINEL))
        * F.lit(_CMS_KNUTH)
        + F.lit(_CMS_SEEDS[0]),
        F.lit(1 << 31),
    )
    h1 = h0.bitwiseXOR(F.shiftright(h0, 15))
    h2 = F.pmod(h1 * F.lit(_CMS_SEEDS[2]), F.lit(1 << 31))
    h = h2.bitwiseXOR(F.shiftright(h2, 13))
    bucket = (h % _HLL_M).cast("int")
    w = F.floor(h / _HLL_M).cast("bigint")
    rho = (
        F.when(w == 0, F.lit(_HLL_WBITS + 1))
        .otherwise(F.lit(_HLL_WBITS + 1) - F.length(F.bin(w)))
        .cast("int")
    )
    return bucket, rho


def _hll_estimate(sum_inv: Column, v_set: Column) -> Column:
    """Raw + corrected HLL estimate from the register summary. ``sum_inv``
    is a sum of exact powers of two (exponents 0..-26 over ≤64 terms span
    32 mantissa bits < 53), so it is EXACT in double in any summation
    order; the division and multiply are single correctly-rounded IEEE
    ops — the raw estimate is bit-identical across engines."""
    raw = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M) / sum_inv
    zeros = F.lit(_HLL_M) - v_set
    return F.when(
        (raw <= F.lit(2.5 * _HLL_M)) & (zeros > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zeros.cast("double")),
    ).otherwise(raw)


def hll_portable_distinct(
    df: DataFrame, group_col: str, key_col: str, tol: float = 0.40
) -> DataFrame:
    """Per-group distinct estimation with a portable HLL, plus the '__ALL__'
    row answered by MERGING the per-group sketches (register-wise max — the
    closure property that makes HLL the 100 TB tool: group sketches are a
    few KB, any union of groups is answered without rescanning the fact).

    Plan shape: one scan → map-side-combined max into ≤ groups·64 register
    cells; one rollup scan for the exact contract counts. Output per scope:
    registers set, the exact Σ2^-M, the estimate (6 dp), the exact distinct
    count, and the tolerance flag the oracle pins TRUE (3σ for p=6).
    """
    bucket, rho = _hll_fields(F.col(key_col))
    regs = (
        df.select(F.col(group_col).alias("scope"), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("scope", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    merged = regs.groupBy("bucket").agg(F.max("reg").alias("reg")).select(
        F.lit("__ALL__").alias("scope"), "bucket", "reg"
    )
    # 2^-reg via an integer shift + one exact division — no libm pow.
    inv = F.lit(1.0) / F.expr("cast(shiftleft(1, reg) as double)")
    summary = (
        regs.unionByName(merged)
        .groupBy("scope")
        .agg(
            F.sum(inv).alias("__present_inv"),
            F.count(F.lit(1)).alias("v_set"),
        )
        .select(
            "scope",
            "v_set",
            (F.col("__present_inv") + (F.lit(_HLL_M) - F.col("v_set")).cast("double")).alias("sum_inv"),
        )
    )
    exact = (
        df.rollup(group_col)
        .agg(F.countDistinct(key_col).alias("exact_distinct"))
        .select(
            F.coalesce(F.col(group_col), F.lit("__ALL__")).alias("scope"),
            "exact_distinct",
        )
    )
    est = _hll_estimate(F.col("sum_inv"), F.col("v_set"))
    return (
        summary.join(exact, "scope")
        .select(
            "scope",
            F.col("v_set").cast("int").alias("v_set"),
            F.col("sum_inv"),
            F.round(est + 1e-9, 6).alias("hll_estimate"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            (
                F.abs(est - F.col("exact_distinct"))
                <= F.col("exact_distinct") * F.lit(tol)
            ).alias("err_ok"),
        )
    )


def hll_intersection_estimate(
    df: DataFrame, group_col: str, key_col: str, tol: float = 0.25
) -> DataFrame:
    """Sketch ALGEBRA on the portable HLL: for every unordered pair of
    groups, the union estimate comes from register-wise max (exact HLL
    closure) and the INTERSECTION estimate from inclusion–exclusion
    |A∩B| ≈ E(A) + E(B) − E(A∪B) — the standard trick for overlap
    questions ('users active in both segments') answered from per-group
    sketches alone, without rescanning the fact table per pair.

    Inclusion–exclusion differences amplify the sketch's relative error,
    so the pinned contract is |est∩ − exact∩| ≤ tol·exact_union (error
    scales with the union, not the possibly-tiny intersection). All
    estimate math is the bit-reproducible ``_hll_estimate`` path, so the
    oracle checks values exactly; register tables are O(groups·64) rows —
    every pairwise step is metadata-sized.
    """
    bucket, rho = _hll_fields(F.col(key_col))
    regs = (
        df.select(F.col(group_col).alias("g"), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("reg"))
        .localCheckpoint(eager=True)
    )
    inv = F.lit(1.0) / F.expr("cast(shiftleft(1, reg) as double)")

    def summarize(frame: DataFrame, keys: list[str]) -> DataFrame:
        return (
            frame.groupBy(*keys)
            .agg(F.sum(inv).alias("__pi"), F.count(F.lit(1)).alias("v"))
            .select(
                *keys,
                (F.col("__pi") + (F.lit(_HLL_M) - F.col("v")).cast("double")).alias(
                    "sum_inv"
                ),
                F.col("v"),
            )
            .select(*keys, _hll_estimate(F.col("sum_inv"), F.col("v")).alias("est"))
        )
    single = summarize(regs, ["g"])
    pairs = (
        single.select(F.col("g").alias("ga"), F.col("est").alias("est_a"))
        .crossJoin(single.select(F.col("g").alias("gb"), F.col("est").alias("est_b")))
        .filter(F.col("ga") < F.col("gb"))
    )
    uni_regs = (
        pairs.select("ga", "gb")
        .join(regs, (F.col("g") == F.col("ga")) | (F.col("g") == F.col("gb")))
        .groupBy("ga", "gb", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    uni = summarize(uni_regs, ["ga", "gb"]).withColumnRenamed("est", "est_union")
    # the exact sides are the accuracy CONTRACT (like cms/sketch_accuracy —
    # at 100 TB only the sketch path runs); checkpointing the distinct
    # (group, key) frame keeps the contract itself to ONE fact scan
    # instead of three (it feeds both exact joins and the union count)
    keys = (
        df.select(F.col(group_col).alias("g"), F.col(key_col).alias("k"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    exact_int = (
        keys.select(F.col("g").alias("ga"), "k")
        .join(keys.select(F.col("g").alias("gb"), "k"), "k")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.countDistinct("k").alias("exact_intersection"))
    )
    exact_uni = (
        pairs.select("ga", "gb")
        .join(keys, (F.col("g") == F.col("ga")) | (F.col("g") == F.col("gb")))
        .groupBy("ga", "gb")
        .agg(F.countDistinct("k").alias("exact_union"))
    )
    est_i = (F.col("est_a") + F.col("est_b")) - F.col("est_union")
    return (
        pairs.join(uni, ["ga", "gb"])
        # LEFT: disjoint groups have no exact-intersection row but are
        # exactly the pairs an overlap question cares about — keep them
        # with an exact count of 0
        .join(exact_int, ["ga", "gb"], "left")
        .withColumn(
            "exact_intersection", F.coalesce("exact_intersection", F.lit(0))
        )
        .join(exact_uni, ["ga", "gb"])
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            F.round(F.col("est_a") + 1e-9, 6).alias("est_a"),
            F.round(F.col("est_b") + 1e-9, 6).alias("est_b"),
            F.round(F.col("est_union") + 1e-9, 6).alias("est_union"),
            F.round(est_i + 1e-9, 6).alias("est_intersection"),
            F.col("exact_intersection").cast("long").alias("exact_intersection"),
            F.col("exact_union").cast("long").alias("exact_union"),
            (
                F.abs(est_i - F.col("exact_intersection"))
                <= F.lit(tol) * F.col("exact_union")
            ).alias("within_bound"),
        )
    )


def moment_profile(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group distribution moments — mean, population variance, skewness,
    excess kurtosis — computed FROM EXACT POWER SUMS (the ols_closed_form
    discipline): the value must be integer-typed (callers quantize), the
    four power sums go through decimal(38,0) so they are exact in any
    partition order, and the moment formulas are a fixed IEEE expression
    tree the oracle replays bit-for-bit. Built-in skewness()/kurtosis()
    are NOT used on purpose: engines disagree on sample-vs-population
    adjustments, power sums have one definition.

    One map-side-combined aggregate — a scan at any scale, like every
    sufficient-statistics fit.
    """
    x = F.col(value_col).cast("bigint")
    d38 = lambda e: e.cast("decimal(38,0)")  # noqa: E731
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d38(x)).alias("s1"),
        F.sum(d38(x * x)).alias("s2"),
        F.sum(d38(x * x * x)).alias("s3"),
        F.sum(d38(x * x * x * x)).alias("s4"),
    )
    n = F.col("n").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3, s4 = F.col("s3").cast("double"), F.col("s4").cast("double")
    mean = s1 / n
    m2 = (s2 / n) - (mean * mean)
    m3 = ((s3 / n) - ((F.lit(3.0) * mean) * (s2 / n))) + (
        F.lit(2.0) * ((mean * mean) * mean)
    )
    m4 = (
        ((s4 / n) - ((F.lit(4.0) * mean) * (s3 / n)))
        + ((F.lit(6.0) * (mean * mean)) * (s2 / n))
    ) - (F.lit(3.0) * ((mean * mean) * (mean * mean)))
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = (m4 / (m2 * m2)) - F.lit(3.0)
    return g.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        F.round(mean + 1e-9, 6).alias("mean"),
        F.round(m2 + 1e-9, 6).alias("variance_pop"),
        F.round(skew + 1e-9, 6).alias("skewness"),
        F.round(kurt + 1e-9, 6).alias("kurtosis_excess"),
    )


def observe_scan_metrics(
    df: DataFrame,
    numeric_cols: list[str] | None = None,
    name: str = "scan_metrics",
):
    """Attach data-quality telemetry to a plan at ZERO extra cost:
    ``df.observe`` computes the metrics as accumulator-style aggregates
    piggybacked on whatever action the caller runs — no second scan, no
    extra shuffle, works identically on batch and streaming plans.

    Returns ``(observed_df, observation)``; after any action on the
    returned frame, ``observation.get`` yields {n_rows, <col>_nulls,
    <col>_min, <col>_max} — the counters a production pipeline exports
    per stage to catch silent data loss (a filter dropping 99% of rows,
    a join nulling a column) without paying for a profiling pass. At
    100 TB a separate profile_table() scan costs a full read; this is
    free with the write that runs anyway.
    """
    from pyspark.sql import Observation

    numeric_cols = numeric_cols or []
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in numeric_cols:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
        )
        metrics.append(F.min(c).alias(f"{c}_min"))
        metrics.append(F.max(c).alias(f"{c}_max"))
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def join_skew_report(
    df: DataFrame,
    key_cols: list[str],
    top: int = 5,
) -> DataFrame:
    """Pre-join skew audit: for every candidate join key, the top-N
    heaviest key values with their frequency share, plus the column's
    skew ratio (max key count / mean key count) — the number that decides
    whether a join needs salting or can lean on AQE's skew splitting.

    ONE pass over the fact table: the key columns unpivot via explode
    (narrow), a single (col, key) combine-aggregated shuffle counts them,
    per-column summaries come from the O(distinct keys) aggregate (tiny,
    broadcast back), and the top-N is WindowGroupLimit-pruned below its
    sort. No per-column rescan of a 100 TB table.
    """
    from pyspark.sql import Window

    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("key"),
                    )
                    for c in key_cols
                ]
            )
        ).alias("p")
    ).select("p.col", "p.key")
    counted = pairs.groupBy("col", "key").agg(F.count(F.lit(1)).alias("cnt"))
    summary = counted.groupBy("col").agg(
        F.sum("cnt").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    w = Window.partitionBy("col").orderBy(F.desc("cnt"), "key")
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top)
        .join(F.broadcast(summary), "col")
        .select(
            "col",
            "key",
            "rk",
            "cnt",
            F.round(F.col("cnt") * 100.0 / F.col("total_rows"), 4).alias("share_pct"),
            F.round(
                F.col("max_cnt") * F.col("n_keys") / F.col("total_rows").cast("double"),
                4,
            ).alias("skew_ratio"),
        )
    )


def referential_integrity(
    edges: list[tuple[DataFrame, str, str, DataFrame, str, str]]
) -> DataFrame:
    """Foreign-key integrity audit: for each (child_df, child_name, fk,
    parent_df, parent_name, pk) edge, count child rows, NULL keys, and
    ORPHANS (non-null keys with no parent) — the cross-table quality scan
    every warehouse runs after load. Each edge is one left-anti join
    against the (distinct) parent key set plus one counting aggregate;
    the union output is O(edges) rows.
    """
    parts = []
    for child, child_name, fk, parent, parent_name, pk in edges:
        keys = parent.select(F.col(pk).alias("__pk")).distinct()
        orphans = (
            child.select(F.col(fk).alias("__fk"))
            .filter(F.col("__fk").isNotNull())
            .join(keys, F.col("__fk") == F.col("__pk"), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        totals = child.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(fk).isNull(), 1).otherwise(0)).alias("n_null_keys"),
        )
        parts.append(
            totals.crossJoin(orphans).select(
                F.lit(f"{child_name}.{fk}").alias("child_key"),
                F.lit(f"{parent_name}.{pk}").alias("parent_key"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.coalesce(F.col("n_null_keys"), F.lit(0)).cast("long").alias("n_null_keys"),
                F.col("n_orphans").cast("long").alias("n_orphans"),
                (F.col("n_orphans") == 0).alias("ok"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def gini_concentration(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group Gini coefficient over an integer-valued column: with the
    group's values sorted ascending, G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n —
    the concentration profile (0 = perfectly even, →1 = one row holds
    everything) that tells a curation pipeline whether a source's volume
    is dominated by a few records.

    Plan: one group-partitioned ranking window + one map-side-combined
    aggregate. Ties need no tiebreak: swapping equal values changes ranks
    but not Σ i·x (same x both sides), so the statistic is deterministic
    under any row_number order. The rank-weighted sums stay in
    decimal(38,0) (exact in any partition order); the closing formula is
    a fixed IEEE expression the oracle replays.
    """
    from pyspark.sql import Window

    x = F.col(value_col).cast("bigint")
    ranked = df.select(group_col, x.alias("__x")).withColumn(
        "__i", F.row_number().over(Window.partitionBy(group_col).orderBy("__x"))
    )
    d38 = lambda e: e.cast("decimal(38,0)")  # noqa: E731
    g = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d38(F.col("__x"))).alias("__s"),
        F.sum(d38(F.col("__i") * F.col("__x"))).alias("__s1"),
    )
    n = F.col("n").cast("double")
    s, s1 = F.col("__s").cast("double"), F.col("__s1").cast("double")
    gini = ((F.lit(2.0) * s1) / (n * s)) - ((n + F.lit(1.0)) / n)
    return g.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        F.round(gini + F.lit(1e-9), 6).alias("gini"),
    )
