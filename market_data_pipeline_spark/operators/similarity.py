"""Similarity search over the ``embeddings`` table (``array<float>``).

North-star operators (BASELINE.json):
- brute-force cosine top-k — the exactness baseline, expressed with
  higher-order functions (``zip_with`` + ``aggregate``) so the dot products
  run JVM-side inside codegen, not in Python;
- LSH-bucketed ANN (random-hyperplane signs) — the 100 TB path: candidates
  meet only inside matching buckets;
- centroid/IVF-style routing: assign vectors to the nearest of K pivots,
  probe only the query's pivot cell.

At scale the query side is small (broadcast) and the corpus side streams —
exactly the asymmetric shape Spark joins like.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _sqdist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance as a left-to-right zip/fold — the ONE
    definition every centroid/PQ path shares. The sequential fold order is
    load-bearing: the DuckDB oracles mirror it with list_sum ∘
    list_transform ∘ list_zip, so both engines accumulate in the same
    order and the quantized trainers match bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subvector_rows(sub_dim: int, m: int, vec: Column) -> Column:
    """Explodable array of (sub, sv) structs slicing ``vec`` into ``m``
    contiguous ``sub_dim``-wide subspaces — shared by the PQ trainer and
    the query side so the slicing can never drift between them."""
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(vec, s * sub_dim + 1, sub_dim).alias("sv"),
            )
            for s in range(m)
        ]
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query set, cross
    join against the corpus, rank per query. The cross join is
    |queries|×|corpus| — linear in corpus size for a fixed query batch, which
    is the honest exact-search cost; ANN below cuts it."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).cast("array<double>").alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("corpus_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rk")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-based, no numpy RNG state
    dependence) — same planes on every executor and in tests."""
    planes = []
    state = seed & 0x7FFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append(state / 0x40000000 - 1.0)  # uniform-ish in [-1, 1)
        planes.append(row)
    return planes


def lsh_bucket(df: DataFrame, dim: int = 64, n_planes: int = 12, vec_col: str = "embedding", seed: int = 7) -> DataFrame:
    """Random-hyperplane LSH signature: bit i = sign(v·plane_i). Planes are
    literal arrays folded into the plan (broadcast by construction)."""
    sig = F.lit(0).cast("long")
    v = F.col(vec_col).cast("array<double>")
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        p = F.array(*[F.lit(x) for x in plane])
        sig = sig + F.when(_dot(v, p) > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return df.withColumn("lsh_bucket", sig)


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k: equi-join on the LSH bucket, rank within bucket matches.
    Probes one bucket (multi-probe = union of neighbor buckets, omitted for
    clarity). Recall is checked against brute force in tests."""
    from pyspark.sql import Window

    cb = lsh_bucket(corpus, dim, n_planes, vec_col).select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
        "lsh_bucket",
    )
    qb = lsh_bucket(queries, dim, n_planes, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        "lsh_bucket",
    )
    scored = (
        cb.join(F.broadcast(qb), "lsh_bucket")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rk")
    )


def ivf_assign(df: DataFrame, n_cells: int = 16, dim: int = 64, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF-style cell routing: assign each vector to the nearest of K
    deterministic pivots (here: hyperplane-derived pseudo-centroids). The
    partitioning layer of an IVF index — at 100 TB you write the corpus
    partitioned by cell and prune scans to probed cells."""
    pivots = _hyperplanes(dim, n_cells, seed=13)
    v = F.col(vec_col).cast("array<double>")
    sims = F.array(
        *[
            _dot(v, F.array(*[F.lit(x) for x in p]))
            for p in pivots
        ]
    )
    best = F.array_position(sims, F.array_max(sims)) - 1
    return df.select(F.col(id_col), v.alias("vec"), best.cast("int").alias("cell"))


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    dim: int = 64,
    hot_bucket_cap: int | None = None,
    chain_window: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket self-join, then the
    exact cosine filter. The dedup counterpart of ann_topk.

    ``hot_bucket_cap`` bounds the self-join's per-bucket fan-out for
    degenerate buckets (see ``dedup.bucket_pair_candidates``): hot-bucket
    members are ordered by the raw vector itself (Spark orders arrays
    lexicographically), so near-identical vectors sort adjacent and chain
    pairing keeps their clusters connected — and the order key costs zero
    extra compute (an earlier 16-plane fine-LSH order key added ~1.6 s of
    Catalyst literal-expression overhead per run for no recall gain).
    Default off — the raw pair list is this function's contract;
    group-forming callers (``semantic_dup_members``) turn it on.
    """
    from market_data_pipeline_spark.operators.dedup import bucket_pair_candidates

    b = lsh_bucket(df, dim, n_planes, vec_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"), "lsh_bucket"
    )
    return (
        bucket_pair_candidates(
            b,
            id_col=id_col,
            bucket_cols=("lsh_bucket",),
            order_col="v",
            hot_bucket_cap=hot_bucket_cap,
            chain_window=chain_window,
            payload_cols=("v",),
        )
        .withColumn("cos_sim", F.round(cosine(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            "cos_sim",
        )
    )


def semantic_dup_members(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    dim: int = 64,
    hot_bucket_cap: int | None = 1024,
    chain_window: int = 8,
) -> DataFrame:
    """(id, group_id) for EVERY vector, group_id = its semantic near-dup
    cluster's min id (a singleton labels itself, so survivors are exactly
    the rows with id == group_id) — the clustering layer a SemDeDup-style
    curation pipeline needs, built to survive heavy EXACT duplication.

    Scale design: exact-duplicate vectors are collapsed to ONE
    representative per distinct embedding (groupBy on the vector itself)
    BEFORE the LSH-bucket pair join, so K copies of a vector contribute
    one bucket row instead of K — without the collapse a duplication
    factor K inflates the candidate join quadratically (K² pairs per
    clone set), which a 10× replica stress measured as super-linear
    growth. The result is IDENTICAL to pairing over all vectors: an exact
    clone set is a clique through its representative (cosine = 1 ≥ any
    threshold), so the connected components — and their min ids — do not
    change. Exact equality on the raw float array is intentional (bitwise
    clones are what replication produces); near-identical vectors still
    take the pair path.
    """
    from market_data_pipeline_spark.operators import dedup as _dedup

    members = df.select(F.col(id_col), F.col(vec_col).alias("__v"))
    reps = members.groupBy("__v").agg(F.min(id_col).alias("rep_id"))
    # pinned once: the bucket self-join downstream would otherwise compute
    # this aggregate on both sides of the join
    reps = reps.localCheckpoint(eager=True)
    rep_vecs = reps.select(F.col("rep_id").alias(id_col), F.col("__v").alias(vec_col))
    # cap on: this function's output is GROUPS, so hot buckets of DISTINCT
    # near-identical vectors only need a connected chain of verified pairs,
    # not the full clique (bucket_pair_candidates documents the bound); the
    # default cap is far above any organic bucket at test scale, so oracle
    # results are unchanged
    pairs = embedding_near_dups(
        rep_vecs, threshold, vec_col, id_col, n_planes, dim,
        hot_bucket_cap=hot_bucket_cap, chain_window=chain_window,
    )
    rep_groups = _dedup.dup_groups(pairs, id_a="vec_a", id_b="vec_b").select(
        F.col("doc_id").alias("rep_id"), F.col("group_id").alias("__rg")
    )
    # rep_id is the min id of its clone set and __rg the min rep_id of the
    # connected reps, so coalesce(__rg, rep_id) IS the cluster's min id
    # rep_groups is O(reps in any candidate pair) — unbounded at high dup
    # rates, so no forced broadcast; AQE promotes it when actually small.
    return (
        members.join(reps, "__v")
        .join(rep_groups, "rep_id", "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__rg"), F.col("rep_id")).alias("group_id"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: score only corpus vectors in the query's cell (nprobe=1).
    With the corpus written partitioned by cell, the cell equi-join becomes
    partition pruning — the scan touches 1/K of the data per query cell."""
    from pyspark.sql import Window

    ca = ivf_assign(corpus, n_cells, dim, vec_col, id_col).select(
        F.col(id_col).alias("corpus_id"), F.col("vec").alias("c_vec"), "cell"
    )
    qa = ivf_assign(queries, n_cells, dim, vec_col, id_col).select(
        F.col(id_col).alias("query_id"), F.col("vec").alias("q_vec"), "cell"
    )
    scored = (
        ca.join(F.broadcast(qa), "cell")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rk")
    )


def ann_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe ANN: each query probes its own bucket plus every bucket at
    Hamming distance 1 (one plane's sign flipped) — the standard recall/cost
    knob: candidates grow ~(n_planes+1)×, recall approaches brute force for
    near-boundary vectors. The probe expansion happens on the (small) query
    side only; the corpus is bucketed once."""
    from pyspark.sql import Window

    cb = lsh_bucket(corpus, dim, n_planes, vec_col).select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
        "lsh_bucket",
    )
    qb = lsh_bucket(queries, dim, n_planes, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        "lsh_bucket",
    )
    probes = F.array(
        F.col("lsh_bucket"),
        *[F.col("lsh_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    q_probed = qb.select(
        "query_id", "q_vec", F.explode(probes).alias("lsh_bucket")
    )
    scored = (
        cb.join(F.broadcast(q_probed), "lsh_bucket")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
        .select("query_id", "corpus_id", "cos_sim")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rk")
    )


def vector_stats(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Higher-order-function surface over array columns: per-vector stats
    computed entirely JVM-side (transform/filter/aggregate — no UDF, no
    explode). Scan-bound at any scale: one projection, zero shuffles."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col),
        F.size(v).alias("dim"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.round(F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)), 6).alias("l2_norm"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size(v), 6).alias("mean_val"),
        F.round(F.array_max(F.transform(v, lambda x: F.abs(x))), 6).alias("max_abs"),
    )


def label_centroids(df: DataFrame, vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """Per-label centroid in LONG form (label, dim_pos, centroid): posexplode
    → groupBy(label, pos) avg. One shuffle keyed on (label, pos) — 10·64
    groups here, k·dim anywhere; the combiner reduces shuffle bytes to
    O(partitions · k · dim) regardless of corpus size."""
    v = F.col(vec_col).cast("array<double>")
    return (
        df.select(F.col(label_col), F.posexplode(v).alias("dim_pos", "component"))
        .groupBy(label_col, "dim_pos")
        .agg(F.round(F.avg("component"), 6).alias("centroid"))
    )


def assign_nearest_centroid(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label", id_col: str = "vec_id"
) -> DataFrame:
    """One k-means E-step: assign every vector to its nearest label centroid
    (squared L2). Centroids are k·dim values — computed with one keyed
    shuffle, then collapsed to k array rows and BROADCAST into a crossJoin;
    the argmin is a per-row reduce over k candidates (k ≪ data, so the
    cross join is k-fold row amplification of a projection, not a shuffle).

    Returns (vec_id, true_label, assigned_label, dist) — the building block
    for iterative k-means (M-step = label_centroids over the assignment).
    """
    v = F.col(vec_col).cast("array<double>")
    cents = (
        df.select(F.col(label_col), F.posexplode(v).alias("dim_pos", "component"))
        .groupBy(label_col, "dim_pos")
        .agg(F.avg("component").alias("c"))
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim_pos", "c"))).alias("__pairs"))
        .select(
            F.col(label_col).alias("cent_label"),
            F.transform("__pairs", lambda s: s.getField("c")).alias("cent_vec"),
        )
    )
    pairs = df.select(F.col(id_col), F.col(label_col), v.alias("__v")).crossJoin(F.broadcast(cents))
    sqdist = _sqdist(F.col("__v"), F.col("cent_vec"))
    # argmin via min(struct(dist, label)) — same (rounded-dist, lowest-label)
    # tie-break as a ranking window, but partial-aggregable: the shuffle
    # carries one best candidate per id per partition instead of k rows,
    # and there is no per-id sort. (Round BEFORE the min so the tie-break
    # matches the oracle's ORDER BY rounded dist.)
    return (
        pairs.select(
            F.col(id_col),
            F.col(label_col).alias("true_label"),
            F.struct(F.round(sqdist, 6).alias("dist"), F.col("cent_label")).alias("__c"),
        )
        .groupBy(id_col, "true_label")
        .agg(F.min("__c").alias("__best"))
        .select(
            F.col(id_col),
            "true_label",
            F.col("__best.cent_label").alias("assigned_label"),
            F.col("__best.dist").alias("dist"),
        )
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame, int]:
    """Full iterative k-means (Lloyd's) as a driver-side loop of DataFrame
    jobs — the canonical Spark iterative-algorithm pattern.

    Per iteration: E-step = broadcast the k·dim centroids and argmin per
    row (projection + small window, no shuffle of the corpus); M-step =
    posexplode + groupBy(cluster, dim) mean (one keyed shuffle whose
    combiner caps shuffle bytes at O(partitions·k·dim)). The assignment
    frame is localCheckpoint-ed each round so the lineage does NOT grow
    with iterations (same discipline as dedup's connected components);
    convergence = assignments unchanged (a cheap anti-join count).

    Init is deterministic: the k lowest ids seed the centroids — swap for
    k-means|| at real scale; the loop body is identical. A cluster that
    loses every member drops out of the centroid frame (k shrinks) rather
    than keeping a stale centroid.

    M-step centroids are rounded to 6 decimals IN the loop (quantized
    Lloyd's): the iterate then depends only on the rounded values, not on
    floating-point summation order, so the whole fit is bit-reproducible
    across partitionings AND across engines — which is what lets a plain
    SQL unrolling of the loop (DuckDB oracle) match the assignment exactly.
    At 1e-6 quantization the clustering is indistinguishable from the
    unrounded iterate on any real embedding scale.

    Returns (assignments(vec_id, cluster), centroids(cluster, dim_pos,
    centroid), n_iterations_run).
    """
    v = F.col(vec_col).cast("array<double>")
    # id-hash partitioning pinned by the checkpoint: every per-id E-step
    # argmin across all iterations aggregates WITHOUT an exchange (the
    # broadcast of centroids preserves partitioning); only the tiny M-step
    # partials (k·dim rows per partition) re-key each round.
    base = (
        df.select(F.col(id_col), v.alias("__v"))
        .repartition(F.col(id_col))
        .localCheckpoint(eager=True)
    )

    seeds = base.orderBy(id_col).limit(k)
    from pyspark.sql import Window as _W

    seed_rank = _W.orderBy(id_col)
    cents = (
        seeds.withColumn("cluster", F.row_number().over(seed_rank) - 1)
        .select("cluster", F.posexplode("__v").alias("dim_pos", "c"))
    )

    def _assign(centroids_long: DataFrame) -> DataFrame:
        cvecs = (
            centroids_long.groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim_pos", "c"))).alias("__p"))
            .select("cluster", F.transform("__p", lambda s: s.getField("c")).alias("__cv"))
        )
        pairs = base.crossJoin(F.broadcast(cvecs))
        sqdist = _sqdist(F.col("__v"), F.col("__cv"))
        # argmin via min(struct(dist, cluster)): lexicographic struct order
        # gives the same (dist, lowest-cluster) tie-break as a ranking
        # window but partial-aggregates map-side — no per-id sort, and the
        # shuffle carries one candidate per id per partition instead of k.
        return (
            pairs.select(F.col(id_col), F.struct(sqdist.alias("d"), F.col("cluster")).alias("__c"))
            .groupBy(id_col)
            .agg(F.min("__c").alias("__best"))
            .select(id_col, F.col("__best.cluster").alias("cluster"))
        )

    assign = _assign(cents).localCheckpoint(eager=True)
    iters = 0
    for _ in range(max_iter):
        iters += 1
        cents = (
            base.join(assign, id_col)
            .select("cluster", F.posexplode("__v").alias("dim_pos", "c"))
            .groupBy("cluster", "dim_pos")
            .agg(F.round(F.avg("c"), 6).alias("c"))
        )
        new_assign = _assign(cents).localCheckpoint(eager=True)
        moved = new_assign.join(assign, [id_col, "cluster"], "left_anti").count()
        assign = new_assign
        if moved == 0:
            break
    return (
        assign,
        cents.select("cluster", "dim_pos", F.round("c", 6).alias("centroid")),
        iters,
    )


def quantize_vectors(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", head: int = 8
) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|x| / 127,
    q_i = round(x_i / scale) — the 4× storage/bandwidth cut an embedding
    store takes before ANN serving.

    Pure higher-order array expressions (transform / aggregate), no UDF:
    at 100 TB this is a scan-bound projection, and the int8 arrays shuffle
    4× cheaper than float32 in every downstream join. Emits the quantized
    head, the exact element sum (integer — deterministic across engines)
    and the reconstruction scale.
    """
    absmax = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )
    scale = (absmax / F.lit(127.0)).alias("__scale")
    q = F.transform(
        F.col(vec_col),
        lambda v: F.when(F.col("__scale") > 0, F.round(v.cast("double") / F.col("__scale")))
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    return (
        df.select(F.col(id_col), F.col(vec_col), scale)
        .select(
            id_col,
            F.round(F.col("__scale"), 8).alias("scale"),
            q.alias("__q"),
        )
        .select(
            id_col,
            "scale",
            # Emitted as a CSV string, not array<int>: downstream result
            # canonicalizers (pandas sort / hash compare) choke on list-typed
            # cells, and the head is a human-readable fingerprint anyway.
            F.array_join(F.slice(F.col("__q"), 1, head), ",").alias("q_head"),
            F.aggregate(F.col("__q"), F.lit(0).cast("long"), lambda a, v: a + v).alias("q_sum"),
            F.array_max(F.col("__q")).alias("q_max"),
            F.array_min(F.col("__q")).alias("q_min"),
        )
    )


def ts_pattern_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    symbol_col: str = "symbol",
    time_col: str = "time",
    value_col: str = "close",
) -> DataFrame:
    """Distributed time-series pattern search: top-k subsequences (across
    ALL series) most similar to a short query pattern, by z-normalized
    Euclidean distance over sliding windows — the UCR-suite/"Time Series
    Similarity Search for Streaming Data in Distributed Systems" (EDBT'19)
    primitive.

    Spark shape: NO arrays, NO explosion, NO Python — the m query points
    are constants, so the window mean/std and each lagged term unroll into
    one stack of expressions over ONE (symbol, time) window sort, all
    whole-stage-codegen'd; the final top-k is `TakeOrderedAndProject`
    (per-partition heaps), never a global sort. Window count scales with
    rows, not rows×m.

    Z-normalization makes the match shape-based (level/scale invariant);
    flat windows (sd=0) are excluded — distance to any non-flat shape is
    undefined. Deterministic tiebreak (distance, symbol, time).
    """
    from pyspark.sql import Window

    m = len(query)
    mu_q = sum(query) / m
    var_q = sum((x - mu_q) ** 2 for x in query) / (m - 1)
    if var_q == 0:
        raise ValueError("query pattern is flat; z-normalization undefined")
    sd_q = var_q ** 0.5
    qz = [(x - mu_q) / sd_q for x in query]

    w = Window.partitionBy(symbol_col).orderBy(time_col)
    frame = w.rowsBetween(0, m - 1)
    mu = F.avg(value_col).over(frame)
    sd = F.stddev_samp(value_col).over(frame)
    n = F.count(value_col).over(frame)
    dist = None
    for j in range(m):
        term = ((F.lead(value_col, j).over(w) - mu) / sd - F.lit(qz[j])) ** 2
        dist = term if dist is None else dist + term
    return (
        df.select(
            F.col(symbol_col).alias("symbol"),
            F.col(time_col).alias("win_start"),
            F.when((n == m) & (sd > 0), F.round(dist, 6)).alias("dist"),
        )
        .filter(F.col("dist").isNotNull())
        .orderBy("dist", "symbol", "win_start")
        .limit(k)
    )


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss-style dimensionality reduction with a
    HASH-SEEDED sign matrix: ``y_j = (1/sqrt(d)) * sum_i v_i * s_ij`` where
    ``s_ij`` in {-1, +1} comes from a deterministic integer hash of (i, j) —
    no stored matrix, no randomness, identical on any engine (the property
    that makes it oracle-checkable AND reproducible across cluster runs,
    unlike seeded RNG whose stream depends on partitioning).

    All JVM-side: one ``transform`` + ``aggregate`` higher-order expression
    per output dimension over the array column — a pure projection, zero
    shuffles, feeding the ANN/IVF ladder with an 8x cheaper distance.

    The sign hash ((i+1)*(j+13)*KNUTH mod 97 < 48) is mixing enough for a
    demonstration projection; swap the hash for a seeded counter-based RNG
    (Philox) if statistical guarantees matter — the plan shape is identical.
    """
    v = F.col(vec_col).cast("array<double>")
    d = 64  # input dim (embeddings table contract; FIXTURES.md)
    import math

    scale = 1.0 / math.sqrt(d)
    def _signed(jj: int):
        # closure factory: PySpark counts lambda params, so the output
        # dimension must be bound via closure, not a default argument
        return lambda x, i: x * F.when(
            ((i + 1) * (jj + 13) * F.lit(2654435761)) % 97 < 48, F.lit(1.0)
        ).otherwise(F.lit(-1.0))

    outs = []
    for j in range(out_dim):
        signed = F.transform(v, _signed(j))
        total = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
        outs.append(F.round(total * F.lit(scale), 6).alias(f"p{j}"))
    return df.select(F.col(id_col), *outs)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compressed ANN path. At 100 TB a
# 64-dim float corpus is 256 B/vector; PQ codes are m bytes (8 here, a 32×
# cut), so the scan side of a query fits in a fraction of the memory and
# the distance math becomes m table lookups (ADC). The trainer is quantized
# Lloyd's run for ALL subspaces in ONE set of jobs (rows keyed by
# (vec_id, sub)), so training cost does not scale with m — and like
# kmeans_fit, 6dp in-loop rounding makes the whole fit engine-reproducible,
# which is what lets the DuckDB oracle unroll it exactly.
# ---------------------------------------------------------------------------


def pq_fit(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Train PQ codebooks and encode the corpus.

    Returns (codes(vec_id, codes array<int> of length m),
    codebooks(sub, cluster, cv array<double> of sub_dim)). Seeds: per
    subspace, the k lowest ids' subvectors (same deterministic rule as
    kmeans_fit). Fixed ``iters`` E/M pairs — no convergence break, so the
    exact iterate is reproducible by a fixed-depth SQL unrolling.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    v = F.col(vec_col).cast("array<double>")
    subs = _subvector_rows(sub_dim, m, v)
    # repartition by vec_id BEFORE checkpointing: subset partitioning
    # satisfies every per-(vec_id, sub) E-step argmin AND the final
    # per-vec_id code assembly, so none of the 1+iters assignment
    # aggregations pays an exchange — the checkpoint pins the partitioning
    # for the whole loop. Only the tiny M-step (m·k·dim partial rows)
    # re-keys per iteration.
    base = (
        df.select(F.col(id_col), F.explode(subs).alias("x"))
        .select(id_col, F.col("x.sub").alias("sub"), F.col("x.sv").alias("sv"))
        .repartition(F.col(id_col))
        .localCheckpoint(eager=True)
    )

    from pyspark.sql import Window as _W

    seed_rank = _W.partitionBy("sub").orderBy(id_col)
    seeds = (
        base.withColumn("__rn", F.row_number().over(seed_rank))
        .filter(F.col("__rn") <= k)
        .select("sub", (F.col("__rn") - 1).alias("cluster"), F.col("sv").alias("cv"))
    )

    def _assign(cents: DataFrame) -> DataFrame:
        sqdist = _sqdist(F.col("sv"), F.col("cv"))
        return (
            base.join(F.broadcast(cents), "sub")
            .select(
                id_col,
                "sub",
                F.struct(sqdist.alias("d"), F.col("cluster")).alias("__c"),
            )
            .groupBy(id_col, "sub")
            .agg(F.min("__c").alias("__best"))
            .select(id_col, "sub", F.col("__best.cluster").alias("cluster"))
        )

    cents = seeds
    assign = _assign(cents).localCheckpoint(eager=True)
    for _ in range(iters):
        long = (
            base.join(assign, [id_col, "sub"])
            .select("sub", "cluster", F.posexplode("sv").alias("dim_pos", "c"))
            .groupBy("sub", "cluster", "dim_pos")
            .agg(F.round(F.avg("c"), 6).alias("c"))
        )
        cents = (
            long.groupBy("sub", "cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim_pos", "c"))).alias("__p"))
            .select(
                "sub",
                "cluster",
                F.transform("__p", lambda s: s.getField("c")).alias("cv"),
            )
        )
        assign = _assign(cents).localCheckpoint(eager=True)
    codes = (
        assign.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("sub", "cluster"))).alias("__p"))
        .select(
            id_col,
            F.transform("__p", lambda s: s.getField("cluster").cast("int")).alias("codes"),
        )
    )
    return codes, cents


def pq_topk(
    df: DataFrame,
    n_queries: int = 5,
    topk: int = 5,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: exact query subvector vs the
    corpus' PQ codes. Distance tables are (n_queries·m·k) rows — a
    broadcast — and the corpus side touches only the m-byte codes, never
    the raw vectors: the 100 TB read path PQ exists for."""
    sub_dim = dim // m
    codes, cents = pq_fit(df, m=m, k=k, iters=iters, vec_col=vec_col, id_col=id_col, dim=dim)
    v = F.col(vec_col).cast("array<double>")
    subs = _subvector_rows(sub_dim, m, v)
    queries = (
        df.orderBy(id_col)
        .limit(n_queries)
        .select(F.col(id_col).alias("query_id"), F.explode(subs).alias("x"))
        .select("query_id", F.col("x.sub").alias("sub"), F.col("x.sv").alias("sv"))
    )
    sqdist = _sqdist(F.col("sv"), F.col("cv"))
    dt = queries.join(F.broadcast(cents), "sub").select(
        "query_id", "sub", "cluster", sqdist.alias("d")
    )
    code_rows = codes.select(
        F.col(id_col).alias("corpus_id"),
        F.posexplode("codes").alias("sub", "cluster"),
    )
    scored = (
        code_rows.join(F.broadcast(dt), ["sub", "cluster"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .groupBy("query_id", "corpus_id")
        .agg(F.round(F.sum("d"), 6).alias("approx_dist"))
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("query_id").orderBy(F.col("approx_dist").asc(), F.col("corpus_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= topk)
        .select("query_id", "corpus_id", "approx_dist", "rk")
    )


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Index-quality self-evaluation: recall@k of the LSH ANN against exact
    brute force, per query, in ONE lazy plan — (query_id, n_exact, n_hit,
    recall). This is the measurement every ANN deployment tracks when
    tuning n_planes / probes: the exact side is the |queries|×|corpus|
    ground truth (affordable because the query batch is small — the same
    broadcast shape as brute_force_topk), the ANN side is the bucketed
    search being graded. n_exact can fall short of k on tiny corpora, so
    recall divides by the achievable hits, not k.
    """
    exact = brute_force_topk(corpus, queries, k, vec_col, id_col).select(
        "query_id", "corpus_id"
    )
    approx = ann_topk(corpus, queries, k, dim, n_planes, vec_col, id_col).select(
        "query_id", "corpus_id", F.lit(1).alias("__hit")
    )
    return (
        exact.join(approx, ["query_id", "corpus_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "query_id",
            F.col("n_exact").cast("int").alias("n_exact"),
            F.col("n_hit").cast("int").alias("n_hit"),
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"),
        )
    )


def _empty_schema(df: DataFrame, id_col: str, rest_ddl: str):
    """Schema for the empty-input fast paths: the id field carries the
    INPUT frame's type for that column (vec_id is long in the stock
    tables; a hardcoded string diverged from the non-empty path and broke
    downstream unions on empty inputs — r8 ADVICE)."""
    from pyspark.sql import types as T

    rest = T._parse_datatype_string(f"struct<{rest_ddl}>").fields
    return T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType), *rest]
    )


def pca_power(
    df: DataFrame,
    iterations: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top principal component of the embedding cloud by distributed power
    iteration (Mises & Pollaczek-Geiringer 1929; the PCA workhorse at
    corpus scale): per round, w ← normalize(Σ_v s·(v−μ)) with
    s = (v−μ)·w — one aggregation pass over the vectors per iteration,
    O(dim) driver-side state (the k-means-centroid class of collect).
    Output: (vec_id, pc1) — every vector's signed projection on the
    dominant direction (the 1-D "semantic spread" axis curation uses for
    diversity binning and outlier trimming) — plus the constant
    ``pc1_var`` column, the component's variance estimate λ/n.

    Determinism (the quantized-Lloyd's discipline, component-wise):
    μ is the 10-dp-rounded per-dimension mean; each round's score s is a
    FIXED left-to-right 64-term dot chain rounded at 10 dp; the update
    u_i = Σ s·v_i − μ_i·Σ s rounds at 8 dp (three orders above float
    row-sum drift); the normalized w rounds at 10 dp per component; the
    sign is pinned by forcing the first |component| > 1e-6 positive.
    Every downstream value then depends only on quantized inputs, so a
    chained-CTE SQL unrolling generating the SAME left-to-right chains
    reproduces the fit bit-for-bit.

    Init w₀ = (1/8, …, 1/8) (binary-exact, generically non-orthogonal to
    the top component); fixed ``iterations`` rounds pin the semantics
    like pagerank's. Scale shape: each round re-scans the vector table
    (no corpus-sized materialization) and reduces to one 130-value row —
    map-side combined; at 100 TB this is ``iterations`` embarrassingly
    parallel scans.

    Scale bound on the cross-engine parity claim: the 8-dp rounding of
    the update u_i absorbs accumulation-order drift of the raw
    distributed sums Σs and Σs·v_i, but that drift grows ~O(√rows·ulp)
    while the 5e-9 half-quantum is fixed. Measured safe at sf0.1/sf1
    (drift ≤1e-11); at corpus sizes ≳1e9 rows, re-verify the margin or
    widen the u rounding to 7 dp (the fit changes, the determinism
    contract does not). Requires every vector to carry ≥``dim``
    components (short vectors null the mean and poison the fit — the
    caller owns schema hygiene); an EMPTY input returns an empty frame.
    """
    import math

    eps = 1e-13
    spark = df.sparkSession
    v = F.col(vec_col).cast("array<double>")
    e = df.select(F.col(id_col), v.alias("__v"))
    mu_row = e.agg(
        *[
            F.round(F.avg(F.col("__v")[i]) + F.lit(eps), 10).alias(f"m{i}")
            for i in range(dim)
        ]
    ).first()
    if mu_row is None or mu_row[0] is None:
        # empty input (agg-of-nothing yields nulls): no cloud, no component;
        # the id field keeps the INPUT's type so empty-path unions line up
        return spark.createDataFrame(
            [], _empty_schema(df, id_col, "pc1 double, pc1_var double")
        )
    mu = [float(mu_row[i]) for i in range(dim)]
    from market_data_pipeline_spark.operators.graph import _loop_shuffle

    with _loop_shuffle(spark, 1):
        w, lam, n = _power_rounds(spark, e, mu, dim, iterations)
    var = round(lam / n + 1e-9, 6) if n else 0.0
    return _pca_lit(e, w=w, dmw=_py_dot(mu, w, dim)).select(
        F.col(id_col),
        _pca_score("w", "dmw", 1e-9, 6).alias("pc1"),
        F.lit(var).alias("pc1_var"),
    )


def _py_dot(a, b, dim: int) -> float:
    """Driver-side left-to-right dot chain — the SAME association order
    as the oracle's SQL chain and the F.aggregate fold from 0.0."""
    acc = a[0] * b[0]
    for i in range(1, dim):
        acc = acc + a[i] * b[i]
    return acc


# The per-round weight vector rides as ONE array literal column (and the
# scalars as plain literals), NOT as a broadcast 1-row frame. Measured
# r9 (interleaved A/B at sf0.1, warm JVM): ANY broadcast join — even a
# count-only crossJoin with the 1-row weight frame — costs ~0.40-0.45 s
# per action on this box (broadcast build + torrent + cleanup per
# .first()), while the literal-column path runs the identical fold at
# ~0.16-0.25 s/round. The r7 fear that literal weights force a fresh
# codegen class per round does not apply to an ARRAY literal: constant
# folding collapses F.array(lit…) into a single Literal(ArrayData) that
# codegen references as an object, so the generated source stays
# byte-identical across rounds (only embedded scalar literals like dmw
# change, a compile measured in the noise). The fold from 0.0 equals
# the oracle's left-to-right chain bit-for-bit (0.0 + x == x in IEEE,
# then identical association order).
def _pca_lit(df: DataFrame, **cols) -> DataFrame:
    """Attach per-round loop constants as literal columns: list values
    become one array literal (a codegen reference object), floats plain
    literals — the join-free carrier for the power-iteration loops."""
    out = df
    for name, val in cols.items():
        if isinstance(val, (list, tuple)):
            out = out.withColumn(name, F.array(*[F.lit(float(x)) for x in val]))
        else:
            out = out.withColumn(name, F.lit(float(val)))
    return out


def _pca_score(col_w: str, dmw_col: str, nudge: float, dp: int):
    return F.round(
        F.aggregate(
            F.zip_with("__v", col_w, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        - F.col(dmw_col)
        + F.lit(nudge),
        dp,
    )


def _power_rounds(spark, e, mu, dim, iterations, w1=None):
    """One power-iteration fit over the centered cloud: returns the
    sign-pinned unit direction, its norm estimate λ, and the row count.

    With ``w1`` (a prior unit component): DEFLATED iteration — scores
    and updates act on v′ = (v−μ) − ((v−μ)·w1)·w1, i.e. the cloud with
    the first component projected out, so the fit converges to the
    SECOND principal direction. The deflation never materializes v′:
    per row s = t − u1·(w1·w) from two quantized dot folds, and the
    driver update subtracts Σs·u1 along w1, then re-orthogonalizes the
    (quantized) update against w1 — every extra term is a scalar or an
    O(dim) driver correction, so the per-round plan stays one scan +
    one 131-value reduce. The w1=None path is expression-identical to
    the original pca_power loop (same broadcast frame, same fold)."""
    import math

    eps = 1e-13
    w = [0.125] * dim
    lam = 0.0
    n = None
    deflate = w1 is not None
    if deflate:
        dm1 = _py_dot(mu, w1, dim)
    agg_exprs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum("__s").alias("__ss"),
        *[F.sum(F.col("__s") * F.col("__v")[i]).alias(f"u{i}") for i in range(dim)],
    ]
    if deflate:
        agg_exprs.append(F.sum(F.col("__s") * F.col("__u1")).alias("__su"))
    # every iteration reduces to ONE 130-value row, so the final-agg
    # shuffle width is 1 at ANY corpus size (the partial agg runs at scan
    # parallelism regardless); the loop-conf window also drops AQE's
    # per-stage job materialization — 2 scheduler jobs per round -> 1.
    # Column objects are hoisted out of the loop so every round reuses the
    # SAME expression ids — with the literal-array carrier the per-round
    # plans then share one codegen class (see _pca_lit's comment).
    if deflate:
        u1_col = _pca_score("w1", "dm1", eps, 10).alias("__u1")
        s_defl = F.round(
            _pca_score("w", "dmw", eps, 10)
            - _pca_score("w1", "dm1", eps, 10) * F.col("c1")
            + F.lit(eps),
            10,
        ).alias("__s")
    else:
        s_col = _pca_score("w", "dmw", eps, 10).alias("__s")
    for _ in range(iterations):
        if deflate:
            c1 = round(_py_dot(w1, w, dim) + eps, 10)
            scored = _pca_lit(
                e, w=w, dmw=_py_dot(mu, w, dim), w1=list(w1), dm1=dm1, c1=c1
            ).select("__v", u1_col, s_defl)
        else:
            scored = _pca_lit(e, w=w, dmw=_py_dot(mu, w, dim)).select(
                s_col, "__v"
            )
        row = scored.agg(*agg_exprs).first()
        n = int(row["__n"])
        ss = float(row["__ss"])
        if deflate:
            su = float(row["__su"])
            u = [
                round(
                    (float(row[f"u{i}"]) - mu[i] * ss) - su * w1[i] + eps, 8
                )
                for i in range(dim)
            ]
            d = round(_py_dot(u, w1, dim) + eps, 10)
            u = [round(u[i] - d * w1[i] + eps, 8) for i in range(dim)]
        else:
            u = [
                round((float(row[f"u{i}"]) - mu[i] * ss) + eps, 8)
                for i in range(dim)
            ]
        nrm = round(math.sqrt(_py_dot(u, u, dim)) + eps, 10)
        if nrm == 0.0:
            break  # degenerate cloud: keep the previous direction
        lam = nrm
        w = [round(u[i] / nrm + eps, 10) for i in range(dim)]
    # pin the sign: first meaningfully-nonzero component positive
    for i in range(dim):
        if abs(w[i]) > 1e-6:
            if w[i] < 0:
                w = [-x for x in w]
            break
    return w, lam, n


def pca_top2(
    df: DataFrame,
    iterations: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top TWO principal components by power iteration with Hotelling
    deflation (Hotelling 1933; the standard second-component recipe):
    pc1 fits exactly as ``pca_power``, then a second power iteration
    runs on the cloud with pc1 projected out (see ``_power_rounds``) —
    the 2-D embedding map curation uses for diversity binning, drift
    plots, and cluster sanity checks. Output: (vec_id, pc1, pc2,
    pc1_var, pc2_var) — both signed projections of (v−μ) plus each
    component's variance estimate λ/n.

    Scale shape: 2·``iterations`` embarrassingly parallel scans, each
    reducing to one ≤131-value row; O(dim) driver state; weights ride
    broadcast frames so codegen compiles once per loop (the pca_power
    lesson). Determinism: the same quantized-chain discipline as
    ``pca_power`` extended to the deflation terms (every scalar the
    update touches is 10-dp or 8-dp quantized before reuse), so the
    chained-CTE oracle replays both fits bit-for-bit; pca_power's
    docstring scale bound applies unchanged."""
    eps = 1e-13
    spark = df.sparkSession
    v = F.col(vec_col).cast("array<double>")
    e = df.select(F.col(id_col), v.alias("__v"))
    mu_row = e.agg(
        *[
            F.round(F.avg(F.col("__v")[i]) + F.lit(eps), 10).alias(f"m{i}")
            for i in range(dim)
        ]
    ).first()
    if mu_row is None or mu_row[0] is None:
        return spark.createDataFrame(
            [],
            _empty_schema(
                df, id_col, "pc1 double, pc2 double, pc1_var double, pc2_var double"
            ),
        )
    mu = [float(mu_row[i]) for i in range(dim)]
    from market_data_pipeline_spark.operators.graph import _loop_shuffle

    with _loop_shuffle(spark, 1):
        w1, lam1, n = _power_rounds(spark, e, mu, dim, iterations)
        w2, lam2, _ = _power_rounds(spark, e, mu, dim, iterations, w1=w1)
    var1 = round(lam1 / n + 1e-9, 6) if n else 0.0
    var2 = round(lam2 / n + 1e-9, 6) if n else 0.0
    return _pca_lit(
        e,
        wa=list(w1),
        dma=_py_dot(mu, w1, dim),
        wb=list(w2),
        dmb=_py_dot(mu, w2, dim),
    ).select(
        F.col(id_col),
        _pca_score("wa", "dma", 1e-9, 6).alias("pc1"),
        _pca_score("wb", "dmb", 1e-9, 6).alias("pc2"),
        F.lit(var1).alias("pc1_var"),
        F.lit(var2).alias("pc2_var"),
    )


def embedding_outliers(
    df: DataFrame,
    cutoff: float = 3.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Centroid-distance outlier flags for an embedding table: per vector
    the Euclidean distance to the (quantized) mean vector, its modified
    z-score 0.6745·(r − median_r)/MAD_r, and the Iglewicz–Hoaglin
    ``cutoff`` flag — the stock vector-cleaning pass before clustering /
    ANN indexing (corrupt or mislabeled embeddings sit far off the
    cloud; median/MAD won't let one wild vector hide itself the way a
    mean/std gate would).

    Scale shape: one mean reduce, one distance scan (mean rides a 1-row
    broadcast), two holistic percentile passes (the ``mad_outliers``
    discipline — Spark ``percentile`` and DuckDB ``quantile_cont`` share
    exact interpolation semantics), one flagging scan. Distances are
    rounded at 6 dp BEFORE the quantiles, so both engines interpolate
    identical inputs; MAD = 0 (over half the vectors equidistant)
    defines no z-score and reports 0/false by convention.

    ``dim`` defaults to inferring from the first row (one extra driver
    job); pass it explicitly in pipelines that know their schema, and on
    an EMPTY input (where inference is impossible) an empty frame is
    returned rather than a TypeError."""
    eps = 1e-13
    v = F.col(vec_col).cast("array<double>")
    e = df.select(F.col(id_col), v.alias("__v"))
    if dim is None:
        head = e.select("__v").first()
        if head is None or head["__v"] is None:
            return df.sparkSession.createDataFrame(
                [],
                _empty_schema(
                    df, id_col, "dist double, mod_z double, is_outlier boolean"
                ),
            )
        dim = len(head["__v"])
    mu = e.agg(
        F.array(
            *[
                F.round(F.avg(F.col("__v")[i]) + F.lit(eps), 10)
                for i in range(dim)
            ]
        ).alias("__m")
    )
    d = e.crossJoin(F.broadcast(mu)).select(
        F.col(id_col),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with("__v", "__m", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            + F.lit(1e-9),
            6,
        ).alias("dist"),
    )
    med = d.agg(F.expr("percentile(dist, 0.5)").alias("__med"))
    mad = (
        d.crossJoin(F.broadcast(med))
        .select(F.abs(F.col("dist") - F.col("__med")).alias("__ad"), "__med")
        .groupBy("__med")
        .agg(F.expr("percentile(__ad, 0.5)").alias("__mad"))
    )
    z = F.lit(0.6745) * (F.col("dist") - F.col("__med")) / F.col("__mad")
    return d.crossJoin(F.broadcast(mad)).select(
        F.col(id_col),
        "dist",
        F.round(
            F.when(F.col("__mad") > 0, z).otherwise(F.lit(0.0)) + F.lit(1e-9), 6
        ).alias("mod_z"),
        (
            (F.col("__mad") > 0) & (F.abs(z) > F.lit(float(cutoff)))
        ).alias("is_outlier"),
    )
