"""Feature engineering for ML training data — fills the reference's declared
extension surface /root/reference/src/transformers/feature_engineering.py
(0-byte placeholder) with the operators a training-data pipeline actually
needs: lagged/rolling feature matrices, forward-return labels, and
deterministic dataset splitting.

All native window/hash expressions — one shuffle on symbol for the feature
matrix, zero shuffles for the split (a projection). No Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F

from market_data_pipeline_spark.functions.helpers import min_periods, safe_div, series_window

# Knuth multiplicative hash constant; products stay < 2^63 for any id < 2^31,
# so Spark and any ANSI engine agree without overflow-wrap differences.
_KNUTH = 2654435761


def _knuth_bucket(key: str, mod) -> Column:
    """``pmod(key·KNUTH, mod)`` — the shared deterministic bucket hash.

    ``pmod`` (not ``%``) so negative ids still land in [0, mod) instead of
    producing negative bucket/bin ids. Ids ≥ 2^31 overflow-wrap the multiply,
    which is harmless for hashing but assumes ANSI mode is OFF — the session
    default pinned by ``session.get_spark``/``tune_existing``
    (spark.sql.ansi.enabled=false); every ``_KNUTH`` call site shares that
    assumption.
    """
    return F.pmod(F.col(key).cast("bigint") * F.lit(_KNUTH), F.lit(mod))


def make_features(
    df: DataFrame,
    col: str = "close",
    lags: tuple[int, ...] = (1, 2, 3, 5),
    window: int = 10,
    label_horizon: int = 5,
    time_col: str = "time",
    w: WindowSpec | None = None,
) -> DataFrame:
    """Per-(symbol, time) feature row: lagged return features, rolling
    mean/std ratios, volume z-score, and the ``label_horizon``-step forward
    return as the regression label (null in the unknowable tail — filter
    before training, keep for inference)."""
    w = w or series_window(time_col=time_col)
    out = df
    for k in lags:
        out = out.withColumn(
            f"ret_lag_{k}",
            F.round(safe_div(F.col(col), F.lag(col, k).over(w)) - 1, 6),
        )
    mean = min_periods(F.avg(col), F.col(col), w, window)
    std = min_periods(F.stddev_samp(col), F.col(col), w, window)
    out = (
        out.withColumn("__mu", mean)
        .withColumn("__sd", std)
        .withColumn("close_rel_mean", F.round(safe_div(F.col(col), F.col("__mu")) - 1, 6))
        .withColumn("close_z", F.round(safe_div(F.col(col) - F.col("__mu"), F.col("__sd")), 6))
        .drop("__mu", "__sd")
    )
    if "volume" in df.columns:
        vmu = min_periods(F.avg("volume"), F.col("volume"), w, window)
        out = out.withColumn("vol_rel", F.round(safe_div(F.col("volume"), vmu) - 1, 6))
    out = out.withColumn(
        "label_fwd_return",
        F.round(safe_div(F.lead(col, label_horizon).over(w), F.col(col)) - 1, 6),
    )
    return out


def split_column(key, train_pct: int = 80, val_pct: int = 10):
    """Deterministic, engine-portable train/val/test assignment from a
    numeric key: bucket = (key · KNUTH) mod 100. Stable across runs,
    partitions, and engines — never ``rand()`` (unreproducible lineage)."""
    bucket = _knuth_bucket(key, 100)
    return (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )


def assign_split(df: DataFrame, key: str, train_pct: int = 80, val_pct: int = 10) -> DataFrame:
    """Attach the split column; a pure projection (no shuffle, no sample())."""
    return df.withColumn("split", split_column(key, train_pct, val_pct))


def stratified_hash_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Deterministic ~fraction sample by key hash — reproducible lineage for
    dataset curation (unlike ``df.sample`` whose seed interacts with
    partitioning)."""
    bucket = _knuth_bucket(key, 10000)
    return df.filter(bucket < int(fraction * 10000))


def _es_key(key: str, weight_col: str):
    """The Efraimidis–Spirakis exponential-race key: ln(u)/w with u a
    deterministic per-id uniform from the shared Knuth hash, quantized to
    9 decimals with the +1e-12 boundary nudge. Engine-portability-
    critical — the DuckDB oracles replay this formula literally, so both
    samplers MUST share this single definition."""
    u = (_knuth_bucket(key, 1 << 20) + F.lit(0.5)) / F.lit(float(1 << 20))
    return F.round(F.log(u) / F.col(weight_col) + F.lit(1e-12), 9)


def weighted_sample(df: DataFrame, key: str, weight_col: str, k: int) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows, deterministic:
    Efraimidis–Spirakis A-ES (Inf. Proc. Letters 2006). Each row gets the
    exponential-race key ln(u)/w (u a deterministic per-id uniform from
    the shared Knuth hash); the k LARGEST keys are exactly a weight-
    proportional sample without replacement.

    Scale shape: one projection + TakeOrderedAndProject — each partition
    keeps its local top-k and only k·partitions candidate rows ever move,
    never a global sort. This is THE one-pass distributed weighted
    sampler: df.sample can't do weights, and rejection sampling needs the
    total weight up front (a second pass).

    Determinism contract: u is a pure function of the id (reproducible
    lineage for dataset curation); the key is quantized to 9 decimals
    (+1e-12 boundary nudge, both engines) and ties break by id, so the
    selected row SET is engine-portable and oracle-checkable. Rows with
    non-positive weight are dropped (ln(u)/w flips sign there; A-ES is
    defined for w > 0).
    """
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key", _es_key(key, weight_col))
        .orderBy(F.col("es_key").desc(), F.col(key))
        .limit(k)
    )


def weighted_sample_per_group(
    df: DataFrame, group_col: str, key: str, weight_col: str, k: int
) -> DataFrame:
    """Per-group weighted sampling without replacement: the k rows with
    the largest Efraimidis–Spirakis keys WITHIN each group — per-domain /
    per-language corpus quotas where quality scores weight the draw.

    Same determinism contract as ``weighted_sample``; the per-group top-k
    runs as a rank-filter window, which Spark prunes with WindowGroupLimit
    (each partition keeps only k candidates per group before the
    exchange) — never a global sort, never a per-group collect.
    """
    from pyspark.sql import Window as _W

    w_spec = _W.partitionBy(group_col).orderBy(F.desc("es_key"), F.col(key))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key", _es_key(key, weight_col))
        .withColumn("__rn", F.row_number().over(w_spec))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def balanced_downsample(
    df: DataFrame,
    by: str,
    cap: int,
    key: str,
) -> DataFrame:
    """Class-balanced downsampling: keep at most ``cap`` rows per ``by``
    group, chosen deterministically by Knuth-hash order of ``key`` — the
    class-rebalancing step of training-data curation (a dominant class
    otherwise swamps the loss).

    Hash order (not input order) makes the kept subset a uniform draw from
    each class while staying reproducible across runs, partitionings, and
    engines. One window exchange on ``by``; ``WindowGroupLimit`` pushes the
    cap below the per-group sort, so at 100 TB each partition ships at most
    ``cap`` candidate rows per class to the shuffle — never the full class.
    """
    order = _knuth_bucket(key, 4294967296).alias("__ord")
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(order, F.col(key))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def stratified_sample_rates(
    df: DataFrame,
    by: str,
    rates: dict[str, float],
    key: str,
    default_rate: float = 1.0,
) -> DataFrame:
    """Stratified sampling with per-class fractions: common classes are
    thinned, rare classes kept whole (``rates`` maps class → keep fraction;
    unlisted classes keep ``default_rate``). The quota step of mixture-
    weighted corpus construction (e.g. downweight boilerplate-heavy web
    text, keep all code).

    A pure projection + filter — zero shuffles: the class column selects a
    literal CASE rate and the Knuth hash of ``key`` decides membership.
    Deterministic across engines, unlike ``sampleBy`` (seeded per
    partition).
    """
    rate = F.lit(float(default_rate))
    for cls, frac in sorted(rates.items()):
        rate = F.when(F.col(by) == cls, F.lit(float(frac))).otherwise(rate)
    bucket = _knuth_bucket(key, 10000)
    return df.filter(bucket < (rate * 10000).cast("bigint"))


def standardize(
    df: DataFrame,
    cols: tuple[str, ...],
    by: str | None = None,
    ddof: int = 1,
) -> DataFrame:
    """Z-score standardization ``(x - mean) / std`` per ``by`` group — the
    feature-scaling pass before distance-based models; pairs with
    :func:`winsorize` (clip first, then scale).

    All means/stds come from ONE aggregate pass over the fact table,
    broadcast back as a per-group (or 1-row) frame — the fact table is
    never sorted or re-shuffled. Sample std (``ddof=1``) to match pandas
    ``DataFrame.std``; constant columns null out via the nullif guard
    rather than dividing by zero.
    """
    aggs = []
    for c in cols:
        aggs.append(F.avg(c).alias(f"__mu_{c}"))
        std = F.stddev_samp(c) if ddof == 1 else F.stddev_pop(c)
        aggs.append(std.alias(f"__sd_{c}"))
    if by is None:
        stats = df.agg(*aggs)
        j = df.crossJoin(F.broadcast(stats))
    else:
        stats = df.groupBy(by).agg(*aggs)
        j = df.join(F.broadcast(stats), by)
    for c in cols:
        j = j.withColumn(
            f"{c}_z",
            (F.col(c) - F.col(f"__mu_{c}")) / F.nullif(F.col(f"__sd_{c}"), F.lit(0.0)),
        )
    return j.drop(*[f"__mu_{c}" for c in cols], *[f"__sd_{c}" for c in cols])


def winsorize(
    df: DataFrame,
    col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    by: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization: clip a column to its [lower, upper] quantiles —
    the outlier guard applied before scaling/standardizing features (a
    single extreme tick otherwise dominates a z-scored feature).

    Quantiles come from ONE aggregate pass (optionally per ``by`` group),
    broadcast back as a 1-row (or per-group) frame — never a sort of the
    fact table. Exact `percentile` here for oracle parity; at 100 TB swap
    `approx_percentile` (mergeable sketch), same call shape.
    """
    out_col = out_col or f"{col}_wins"
    if by is None:
        bounds = df.agg(
            F.expr(f"percentile({col}, {lower})").alias("__lo"),
            F.expr(f"percentile({col}, {upper})").alias("__hi"),
        )
        j = df.crossJoin(F.broadcast(bounds))
    else:
        bounds = df.groupBy(by).agg(
            F.expr(f"percentile({col}, {lower})").alias("__lo"),
            F.expr(f"percentile({col}, {upper})").alias("__hi"),
        )
        j = df.join(F.broadcast(bounds), by)
    return j.withColumn(
        out_col, F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi"))
    ).drop("__lo", "__hi")


def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    target_total_tokens: int,
    source_col: str = "source",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Data-mixture planning: given target mixture ``weights`` (fraction of
    the training budget per source) and a total token budget, compute per
    source the available tokens, the target, the sampling rate, and the
    epoch count (rate > 1 ⇒ the source must repeat) — the arithmetic
    behind every LLM data-mixing recipe, as one aggregation pass.

    Sources absent from ``weights`` get weight 0 (excluded). Sources named
    in ``weights`` but ABSENT from the data still get an output row
    (n_docs=0, available_tokens=0, sample_rate/epochs null) — a typo'd or
    missing source surfaces as an explicit zero-available shortfall instead
    of silently under-allocating the mixture. Output is O(sources); the
    fact table is scanned once and never sorted.
    """
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(weights.items())],
        f"`{source_col}` string, weight double",
    )
    per = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_col).alias("available_tokens"),
    )
    return (
        per.join(wdf, source_col, "full_outer")
        .select(
            source_col,
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("available_tokens", F.lit(0)).alias("available_tokens"),
            F.coalesce("weight", F.lit(0.0)).alias("weight"),
        )
        .withColumn(
            "target_tokens",
            F.round(F.col("weight") * F.lit(float(target_total_tokens)), 0).cast("long"),
        )
        .withColumn(
            "sample_rate",
            F.round(F.col("target_tokens") / F.col("available_tokens"), 6),
        )
        .withColumn(
            "epochs",
            F.ceil(F.col("target_tokens") / F.col("available_tokens")).cast("int"),
        )
    )


def temperature_mixture_rates(
    df: DataFrame,
    by: str,
    alpha: float = 0.3,
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-scaled mixture shares: target share of group g ∝
    p_g^alpha (p_g the observed share) — the mT5 / multilingual-LM
    α-sampling rule that upweights rare languages without letting any
    group dominate (alpha 1 = natural mix, alpha 0 = uniform).

    Where ``mixture_plan`` takes target weights as INPUT, this DERIVES
    them from the corpus itself. Output per group: size, natural share,
    temperature share, and boost = temp_share / share — the number a
    sampler (stratified_sample_rates) multiplies into per-group keep
    fractions. ONE aggregation pass (count or sum of ``weight_col``),
    with totals via a whole-frame window over the O(groups) result;
    output is O(groups) at any corpus size, and the fact table is never
    sorted or re-scanned.
    """
    from pyspark.sql import Window as _W

    n = (
        F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    ).cast("double")
    g = df.groupBy(by).agg(n.alias("n"))
    # totals via a whole-frame window over the O(groups) table — the fact
    # table is scanned ONCE (a separate totals aggregate would re-execute
    # the scan for its second subtree; Spark shares no common subplans)
    whole = _W.partitionBy()
    tot = F.sum("n").over(whole)
    tot_a = F.sum(F.pow("n", F.lit(alpha))).over(whole)
    eps = F.lit(1e-9)
    share = F.col("n") / tot
    temp = F.pow("n", F.lit(alpha)) / tot_a
    return g.select(
        F.col(by),
        F.col("n").cast("long").alias("n"),
        F.round(share + eps, 6).alias("share"),
        F.round(temp + eps, 6).alias("temp_share"),
        F.round(temp / share + eps, 6).alias("boost"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
    buckets: int = 32,
) -> DataFrame:
    """Sequence packing: assign variable-length chunks to fixed-capacity
    bins (context windows) so training batches waste minimal padding — the
    step between chunking and tokenization in an LLM data pipeline.

    Greedy first-fit-decreasing runs INSIDE each of ``buckets`` hash
    buckets via ``applyInPandas`` (packing is inherently sequential; the
    approximation cost of bucketing is a few percent fill while making the
    algorithm embarrassingly parallel — each bucket packs independently and
    bin ids are globally unique by construction ``bucket·1e9 + local``).
    Deterministic: items ordered (size desc, id asc), buckets assigned by
    Knuth hash of the id — same assignment at any parallelism.

    Oversize items (> budget) get a singleton bin flagged ``oversize``;
    callers split or drop them upstream. Output: one row per item with its
    bin; fill statistics are one groupBy away.
    """
    import pandas as pd

    bucket = _knuth_bucket(id_col, buckets)

    schema = f"{id_col} long, {size_col} long, bin_id long, oversize boolean"

    def pack(key, pdf):
        (b,) = key
        pdf = pdf.sort_values([size_col, id_col], ascending=[False, True])
        fills: list[int] = []
        out_bin, out_over = [], []
        for size in pdf[size_col]:
            s = int(size)
            if s > budget:
                fills.append(budget)  # singleton, closed
                out_bin.append(len(fills) - 1)
                out_over.append(True)
                continue
            for i, f in enumerate(fills):
                if f + s <= budget:
                    fills[i] = f + s
                    out_bin.append(i)
                    out_over.append(False)
                    break
            else:
                fills.append(s)
                out_bin.append(len(fills) - 1)
                out_over.append(False)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                size_col: pdf[size_col].to_numpy(),
                "bin_id": [int(b) * 1_000_000_000 + i for i in out_bin],
                "oversize": out_over,
            }
        )

    return (
        df.select(F.col(id_col), F.col(size_col).cast("long"), bucket.alias("__bucket"))
        .groupBy("__bucket")
        .applyInPandas(pack, schema)
    )


# second hash constant (xxhash prime) so fold assignment is decorrelated
# from split_column's mod-100 bucket of the SAME key
_KNUTH2 = 2246822519


def assign_fold(df: DataFrame, key: str, k: int = 5, out_col: str = "fold") -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    pmod(key·KNUTH2, k) — a pure projection (zero shuffles), stable across
    runs/partitionings/engines, and independent of :func:`split_column`'s
    train/val/test hash (different multiplier) so folding WITHIN a split
    does not stripe. Same ANSI-off overflow note as every _KNUTH hash."""
    return df.withColumn(
        out_col, F.pmod(F.col(key).cast("bigint") * F.lit(_KNUTH2), F.lit(k))
    )


def train_logistic(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str] | tuple[str, ...],
    iterations: int = 5,
    lr: float = 2.0,
) -> DataFrame:
    """Distributed logistic-regression training by full-batch gradient
    descent — the quality-classifier step a curation pipeline runs over
    heuristic features before it can afford model-based scoring (the
    fastText/CCNet pattern: train a cheap linear filter ON the corpus).

    Per iteration: ONE aggregate pass over the (checkpointed) feature
    frame computes every gradient component plus the pre-update log-loss
    map-side-combined — cost is one scan regardless of dimensionality;
    the model state (d+1 doubles) lives on the driver like k-means
    centroids or the BPE merge table (a bounded model artifact, the only
    driver traffic). Coefficients are quantized to 10 decimals after
    each update (with the shared +1e-9 nudge), so the iterate depends
    only on quantized values — bit-reproducible across partitionings and
    engines, which is what licenses the exact chained-CTE SQL oracle
    (same contract as pagerank/k-means/HITS).

    At 100 TB: the scan is the cost; everything else is O(d) driver
    arithmetic. No shuffle at all — gradients are pure map-side partial
    sums. Returns one row per iteration: (step, b0..bd, logloss) where
    logloss is evaluated with the PRE-update coefficients (so step 1's
    value is the all-zero model's baseline ln 2).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    d = len(feature_cols)
    feats = df.select(
        F.col(label_col).cast("double").alias("__y"),
        *[
            F.col(c).cast("double").alias(f"__x{j}")
            for j, c in enumerate(feature_cols)
        ],
    ).localCheckpoint(eager=True)

    beta = [0.0] * (d + 1)
    rows = []
    for step in range(1, iterations + 1):
        z = F.lit(beta[0])
        for j in range(d):
            z = z + F.lit(beta[j + 1]) * F.col(f"__x{j}")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        # log terms use p clamped into [eps, 1-eps]: at |z| ≳ 745 p
        # saturates to exactly 0.0/1.0 in double precision and F.log
        # would return NULL — F.sum silently DROPS null rows, understating
        # logloss. The gradient keeps the raw p (it never passes through
        # a log). Mirrored in the oracle SQL.
        pc = F.greatest(F.least(p, F.lit(1.0 - 1e-15)), F.lit(1e-15))
        aggs = [
            F.count(F.lit(1)).alias("__n"),
            F.sum(p - F.col("__y")).alias("__g0"),
            *[
                F.sum((p - F.col("__y")) * F.col(f"__x{j}")).alias(f"__g{j + 1}")
                for j in range(d)
            ],
            F.sum(
                -(
                    F.col("__y") * F.log(pc)
                    + (F.lit(1.0) - F.col("__y")) * F.log(F.lit(1.0) - pc)
                )
            ).alias("__ll"),
        ]
        r = feats.agg(*aggs).first()
        n = r["__n"]
        logloss = round(r["__ll"] / n + 1e-9, 6)
        beta = [
            round(beta[j] - lr * r[f"__g{j}"] / n + 1e-9, 10)
            for j in range(d + 1)
        ]
        rows.append((step, *beta, logloss))

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("step", T.IntegerType(), False)]
        + [T.StructField(f"b{j}", T.DoubleType(), False) for j in range(d + 1)]
        + [T.StructField("logloss", T.DoubleType(), False)]
    )
    return df.sparkSession.createDataFrame(rows, schema)


def ols_closed_form(
    df: DataFrame, y_col: str, x1_col: str, x2_col: str
) -> DataFrame:
    """Two-feature linear regression fit in ONE aggregate pass: the normal
    equations solved in closed form (Cramer's rule on the 3×3 moment
    matrix) from ten sufficient statistics — no gradient loop, no driver
    math, no collect. The map-side-combined agg is the whole cost; at
    100 TB this is a scan, which is why classical linear models are fit
    from sufficient statistics, not row iterators.

    DETERMINISM CONTRACT: inputs must be integer-valued columns (callers
    quantize, e.g. cents). Per-row products stay in int64 (|x·y| < 2^63);
    the SUMS go through decimal(38,0), so they are EXACT in any partition
    order. The exact sums are then cast once to double (one correctly-
    rounded op) and the solve is a fixed-shape IEEE expression tree — the
    oracle replays the identical tree, so coefficients match to the bit
    before the 6 dp round.
    """
    b = lambda c: F.col(c).cast("bigint")  # noqa: E731
    d38 = lambda e: e.cast("decimal(38,0)")  # noqa: E731
    x1, x2, y = b(x1_col), b(x2_col), b(y_col)
    sums = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d38(x1)).alias("s1"),
        F.sum(d38(x2)).alias("s2"),
        F.sum(d38(y)).alias("sy"),
        F.sum(d38(x1 * x1)).alias("s11"),
        F.sum(d38(x2 * x2)).alias("s22"),
        F.sum(d38(x1 * x2)).alias("s12"),
        F.sum(d38(x1 * y)).alias("s1y"),
        F.sum(d38(x2 * y)).alias("s2y"),
        F.sum(d38(y * y)).alias("syy"),
    )
    dbl = {c: F.col(c).cast("double") for c in
           ("n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y", "syy")}
    n, s1, s2, sy = dbl["n"], dbl["s1"], dbl["s2"], dbl["sy"]
    s11, s22, s12 = dbl["s11"], dbl["s22"], dbl["s12"]
    s1y, s2y, syy = dbl["s1y"], dbl["s2y"], dbl["syy"]
    det = (
        (n * ((s11 * s22) - (s12 * s12)))
        - (s1 * ((s1 * s22) - (s12 * s2)))
    ) + (s2 * ((s1 * s12) - (s11 * s2)))
    det0 = (
        (sy * ((s11 * s22) - (s12 * s12)))
        - (s1 * ((s1y * s22) - (s12 * s2y)))
    ) + (s2 * ((s1y * s12) - (s11 * s2y)))
    det1 = (
        (n * ((s1y * s22) - (s12 * s2y)))
        - (sy * ((s1 * s22) - (s12 * s2)))
    ) + (s2 * ((s1 * s2y) - (s1y * s2)))
    det2 = (
        (n * ((s11 * s2y) - (s1y * s12)))
        - (s1 * ((s1 * s2y) - (s1y * s2)))
    ) + (sy * ((s1 * s12) - (s11 * s2)))
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    sse = ((syy - (b0 * sy)) - (b1 * s1y)) - (b2 * s2y)
    sst = syy - ((sy * sy) / n)
    return sums.select(
        F.col("n").cast("long").alias("n"),
        F.round(b0 + 1e-9, 6).alias("beta0"),
        F.round(b1 + 1e-9, 6).alias("beta1"),
        F.round(b2 + 1e-9, 6).alias("beta2"),
        F.round((F.lit(1.0) - (sse / sst)) + 1e-9, 6).alias("r2"),
    )


def host_quota(
    df: DataFrame,
    url_col: str,
    quality_col: str,
    cap: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-host document quota: keep at most ``cap`` documents per URL
    host, best ``quality_col`` first — the Common-Crawl-shaped curation
    step (a single boilerplate-heavy host otherwise floods the corpus
    with near-identical pages; C4/RefinedWeb-style pipelines cap hosts
    before any expensive scoring).

    Host = the authority part of the URL (scheme://HOST/...), extracted
    with one regexp — rows whose URL has no parseable host group under
    the empty-string host (they count against one shared quota rather
    than silently passing uncapped). Order inside a host is
    (quality desc, id asc): deterministic on any engine since quality is
    6-dp quantized upstream.

    Scale shape: one window exchange keyed on host; the rank ≤ cap
    filter compiles to ``WindowGroupLimit``, which pushes the cap BELOW
    the per-group sort — each map partition ships at most ``cap`` rows
    per host to the shuffle, so a mega-host (the skew case: a host with
    10⁸ pages) never funnels its full page set through one partition's
    sort buffer. No global window anywhere.
    """
    host = F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(
        F.desc(quality_col), F.col(id_col)
    )
    return (
        df.withColumn("host", host)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def neyman_allocation(
    df: DataFrame, group_col: str, value_col: str, budget: int
) -> DataFrame:
    """Neyman-optimal sample allocation: split a sampling ``budget`` across
    strata ∝ N_h·σ_h (minimum-variance allocation for a stratified mean —
    Neyman 1934), with the largest-remainder rounding so allocations are
    integers summing EXACTLY to the budget. The principled version of
    'how many docs do I draw from each source' that mixture_plan answers
    by target shares alone.

    Determinism contract: ``value_col`` must be integer-valued (callers
    quantize); per-stratum σ comes from decimal-exact power sums (the
    moment_profile discipline), so every downstream double is a fixed
    IEEE expression the oracle replays. The largest-remainder rank is a
    whole-frame window over the O(strata) aggregate — a closed, bounded
    domain, never data-sized.
    """
    from pyspark.sql import Window

    x = F.col(value_col).cast("bigint")
    d38 = lambda e: e.cast("decimal(38,0)")  # noqa: E731
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(d38(x)).alias("__s1"),
        F.sum(d38(x * x)).alias("__s2"),
    )
    n = F.col("n_rows").cast("double")
    s1, s2 = F.col("__s1").cast("double"), F.col("__s2").cast("double")
    mean = s1 / n
    sigma = F.sqrt((s2 / n) - (mean * mean))
    g = g.select(group_col, "n_rows", (n * sigma).alias("__w"), sigma.alias("__sig"))
    tot = g.agg(F.sum("__w").alias("__tw"))
    raw = F.lit(float(budget)) * F.col("__w") / F.col("__tw")
    alloc = (
        g.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            "n_rows",
            F.col("__sig"),
            raw.alias("__raw"),
            F.floor(raw).cast("long").alias("__base"),
            (raw - F.floor(raw)).alias("__frac"),
        )
    )
    short = alloc.agg(
        (F.lit(budget) - F.sum("__base")).cast("long").alias("__short")
    )
    rnk = F.row_number().over(
        Window.orderBy(F.col("__frac").desc(), F.col(group_col))
    )
    return (
        alloc.crossJoin(F.broadcast(short))
        .withColumn("__rnk", rnk)
        .select(
            group_col,
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("__sig") + 1e-9, 6).alias("sigma"),
            F.round(F.col("__raw") + 1e-9, 6).alias("alloc_raw"),
            (F.col("__base") + F.when(F.col("__rnk") <= F.col("__short"), 1).otherwise(0))
            .cast("long")
            .alias("n_alloc"),
        )
    )


def calibration_report(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str] | tuple[str, ...],
    bins: int = 10,
    iterations: int = 5,
    lr: float = 2.0,
) -> DataFrame:
    """Classifier calibration: train the logistic quality filter
    (``train_logistic``), score every row with the FINAL quantized
    coefficients, bucket predictions into ``bins`` equal-width confidence
    bins, and report per-bin confidence vs observed accuracy plus the
    expected calibration error ECE = Σ (n_b/N)·|acc_b − conf_b| — the
    reliability diagram + the one-number summary every model-based
    curation gate should publish before its scores are trusted as
    probabilities.

    Determinism: scores are quantized to 6 dp BEFORE bucketing (the raw
    sigmoid differs across engines in the last ulp; the bucket edge
    arithmetic on the quantized value is then a shared IEEE expression),
    and the ECE is computed from the ROUNDED per-bin aggregates. One
    extra scan over the (already checkpointed) feature frame beyond
    training; the reliability table is O(bins).
    """
    model = train_logistic(df, label_col, feature_cols, iterations=iterations, lr=lr)
    last = model.orderBy(F.col("step").desc()).first()
    z = F.lit(float(last["b0"]))
    for j, c in enumerate(feature_cols):
        z = z + F.lit(float(last[f"b{j + 1}"])) * F.col(c)
    p6 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) + F.lit(1e-9), 6)
    scored = df.select(
        F.col(label_col).cast("double").alias("__y"), p6.alias("__p")
    )
    by_bin = (
        scored.select(
            F.least(
                F.lit(bins - 1), F.floor(F.col("__p") * bins).cast("int")
            ).alias("bin"),
            "__y",
            "__p",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("__p") + F.lit(1e-9), 6).alias("confidence"),
            F.round(F.avg("__y") + F.lit(1e-9), 6).alias("accuracy"),
        )
        .withColumn(
            "gap", F.round(F.abs(F.col("accuracy") - F.col("confidence")) + F.lit(1e-9), 6)
        )
    )
    ece = by_bin.agg(
        F.round(
            F.sum(F.col("n") * F.col("gap")) / F.sum("n") + F.lit(1e-9), 6
        ).alias("ece")
    )
    return (
        by_bin.crossJoin(F.broadcast(ece))
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            "confidence",
            "accuracy",
            "gap",
            "ece",
        )
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    key: str,
    k: int = 5,
    smoothing: float = 20.0,
    out_col: str = "te",
) -> DataFrame:
    """Out-of-fold target encoding (Micci-Barreca 2001, the standard
    leakage-safe categorical encoder): each row's category is encoded
    by the target mean of the OTHER folds' rows in that category,
    shrunk toward the global mean by ``smoothing`` pseudo-counts —

        te = ((S_cat − S_cat,fold) + m·ḡ) / ((C_cat − C_cat,fold) + m)

    so a row never sees its own fold's targets (the leakage a naive
    category-mean join commits) and rare categories collapse to the
    prior instead of memorizing noise. Folds come from
    :func:`assign_fold` (engine-portable Knuth multiplicative hash).

    Scale shape: two map-side-combinable aggregations (category, and
    category×fold — both O(categories·k) outputs), the global mean as
    a broadcast 1-row frame, then one broadcast-sized join back to the
    rows; the data-sized frame is touched once. Determinism: with an
    integer target every sum is exact; the global mean quantizes at
    10 dp, the encoding at 6 dp with pinned operation order.

    Returns (key, cat, fold, te)."""
    d = assign_fold(df.select(key, cat_col, target_col), key, k)
    g = d.agg(
        F.round(
            F.sum(target_col).cast("double") / F.count(F.lit(1))
            + F.lit(1e-13),
            10,
        ).alias("__g")
    )
    cat = d.groupBy(cat_col).agg(
        F.sum(target_col).cast("long").alias("__sc"),
        F.count(F.lit(1)).cast("long").alias("__cc"),
    )
    catfold = d.groupBy(cat_col, "fold").agg(
        F.sum(target_col).cast("long").alias("__sf"),
        F.count(F.lit(1)).cast("long").alias("__cf"),
    )
    m = F.lit(float(smoothing))
    return (
        d.join(F.broadcast(catfold), [cat_col, "fold"])
        .join(F.broadcast(cat), cat_col)
        .crossJoin(F.broadcast(g))
        .select(
            F.col(key),
            F.col(cat_col).alias("cat"),
            F.col("fold"),
            F.round(
                ((F.col("__sc") - F.col("__sf")) + m * F.col("__g"))
                / ((F.col("__cc") - F.col("__cf")) + m)
                + F.lit(1e-9),
                6,
            ).alias(out_col),
        )
    )
