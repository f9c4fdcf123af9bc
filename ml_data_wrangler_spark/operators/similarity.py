"""Similarity search over embedding columns (north-star extension).

Three tiers:
  * brute-force cosine top-k — the exact baseline; query side broadcast,
    score+rank distributed over the corpus partitions. Exact answer,
    cost O(|queries| × |corpus|) — fine when the query set is small.
  * IVF (inverted-file) ANN — KMeans-partition the corpus, search only
    the nprobe closest centroids per query. The 100 TB path: corpus is
    hash-partitioned by cluster id, each query probes a few partitions.
  * random-hyperplane LSH ANN — BucketedRandomProjectionLSH on
    L2-normalized vectors (cosine ≈ monotone in euclidean distance on
    the unit sphere), constant-size bucket keys.

Exact cosine scoring: the top-k kernel (brute_force_topk_fold) and
the all-pairs kernel (block_allpairs_cosine) share ONE numpy fold
tile (_fold_norms, _fold_tile, _round6): per-dimension ascending
float64 dot and norm folds from a 0.0 accumulator, divided by the
outer product of the norms, rounded half-away-from-zero to 6
decimals. That is the fold the relational kernel (brute_force_topk,
functions/vectors.py) and DuckDB's list_dot_product run per pair, so
rounded sims are bit-identical across all three — while a pair costs
~ns inside a tile instead of ~12 µs in the per-pair JVM expression
(measured round 8). brute_force_topk stays as the relational
reference the fold kernel is pinned against (qv11); the IVF and LSH
paths score JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ml_data_wrangler_spark.functions.vectors import cosine_similarity



def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector the k most similar
    corpus vectors (self-matches excluded).

    Returns (query_id, neighbor_id, sim, rank) with a TOTAL order
    (rounded sim DESC, neighbor_id ASC) so ranks are deterministic.
    """
    # Norms are precomputed per ROW (broadcast side: once per query;
    # stream side: once per corpus row) instead of per PAIR — 3× less
    # arithmetic in the O(|q|×|c|) inner loop, bit-identical results
    # (each norm is the same fold either way). At 100 TB-scale ANN this
    # is the difference between 1× and 3× the scan cost.
    from ml_data_wrangler_spark.functions.vectors import dot, l2_norm

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    # repartition the corpus side BEFORE the broadcast fan-out
    # (optimizer trap #10's corollary): a small parquet scan is 1-2
    # partitions, and the fused score stage would otherwise run 1-2
    # tasks while 30 cores idle — measured 4.6× on qv19's sibling
    # plan at the 6× tier. The shuffle moves only the pre-fan-out
    # corpus (tiny relative to the |q|×|c| scoring it parallelizes).
    from ml_data_wrangler_spark.operators._partition import ensure_parallelism

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cnorm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnorm") * F.col("cnorm")),
                6,
            ).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def _to_ml_vector(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(F.col(vec_col).cast("array<double>")))


def ivf_index(
    corpus: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
):
    """Fit the IVF structure: (assigned corpus, centroid DataFrame).

    The assigned corpus is repartitioned by (cluster_id, shard) where
    shard sub-divides each posting list so all cores stay busy: pure
    cluster_id partitioning yields only n_clusters non-empty
    partitions (8 here), capping every downstream probe/scoring stage
    at 8 tasks regardless of core count. Sharding restores
    n_clusters × n_splits ≈ session parallelism. Note the locality
    caveat: repartition() hash-partitions, so distinct (cluster,
    shard) keys can collide into one partition and a partition can
    hold rows of several clusters — a probe touches APPROXIMATELY
    n_splits partitions per probed cluster, not exactly (results
    unaffected; swap to repartitionByRange on (cluster_id, _shard)
    if strict per-cluster partition pruning ever matters).

    Index-build cost knobs: IVF needs centroids good enough to BUCKET,
    not an optimal clustering — nprobe cushions centroid error — so
    the KMeans runs random init (kmeans|| costs several extra
    distributed passes) and ``max_iter`` defaults to 5: each KMeans
    iteration is a full pass over the corpus, and measured recall at
    sf0.1 is identical at 5 vs 10 iterations (recall is governed by
    nprobe/n_clusters, not centroid polish — asserted on a clustered
    corpus in tests/test_dedup_similarity.py).
    """
    from pyspark.ml.clustering import KMeans

    feat = _to_ml_vector(corpus, vec_col, "_features")
    km = KMeans(
        k=n_clusters,
        seed=seed,
        featuresCol="_features",
        predictionCol="cluster_id",
        initMode="random",
        maxIter=max_iter,
    )
    model = km.fit(feat)
    spark = corpus.sparkSession
    n_splits = max(1, spark.sparkContext.defaultParallelism // n_clusters)
    assigned = (
        model.transform(feat)
        .drop("_features")
        .withColumn(
            "_shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_splits))
        )
        .repartition(n_clusters * n_splits, "cluster_id", "_shard")
        .drop("_shard")
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        schema="cluster_id int, centroid array<double>",
    )
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe phase: route each query to its nprobe nearest centroids,
    score only those clusters' members, take top-k."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    qc = q.join(F.broadcast(centroids))
    w_probe = W.partitionBy("query_id").orderBy(
        F.desc(F.round(cosine_similarity(F.col("qvec"), F.col("centroid")), 6)),
        "cluster_id",
    )
    routed = (
        qc.withColumn("probe_rank", F.row_number().over(w_probe))
        .where(F.col("probe_rank") <= nprobe)
        .select("query_id", "qvec", "cluster_id")
    )
    from ml_data_wrangler_spark.functions.vectors import dot, l2_norm

    # broadcast the routed query side: an equi-join on cluster_id
    # otherwise shuffles BOTH sides onto n_clusters hash keys, capping
    # the scoring stage's parallelism at n_clusters tasks (8 here —
    # trap #10's low-cardinality-key corollary). Broadcasting keeps
    # the corpus side's partitioning, so scoring parallelism follows
    # the posting-list layout the index build chose.
    cand = F.broadcast(routed.withColumn("qnorm", l2_norm(F.col("qvec")))).join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            l2_norm(F.col(vec_col)).alias("cnorm"),
            "cluster_id",
        ),
        "cluster_id",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")), 6
        ).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= k
    )


def _lsh_normalized(
    corpus: DataFrame,
    num_hash_tables: int,
    bucket_length: float,
    id_col: str,
    vec_col: str,
    seed: int,
) -> DataFrame:
    """L2-normalize and hash the corpus with MLlib's seeded
    BucketedRandomProjectionLSH family; returns
    (id, _features, hashes) — the shared front of the LSH paths."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer

    from ml_data_wrangler_spark.operators._partition import ensure_parallelism

    feat = _to_ml_vector(ensure_parallelism(corpus), vec_col, "_raw")
    feat = Normalizer(inputCol="_raw", outputCol="_features", p=2.0).transform(feat)
    lsh = BucketedRandomProjectionLSH(
        inputCol="_features",
        outputCol="hashes",
        numHashTables=num_hash_tables,
        bucketLength=bucket_length,
        seed=seed,
    )
    return lsh.fit(feat).transform(feat).select(
        id_col, vec_col, "_features", "hashes"
    )


def _lsh_candidate_ids(
    hashed: DataFrame, id_col: str, deduplicate: bool = True
) -> DataFrame:
    """Distinct candidate id pairs (a < b) sharing any LSH bucket at
    the same table index — approxSimilarityJoin's candidate semantics,
    hand-rolled so the join moves THREE LONGS per row instead of
    (id, features, hashes).

    Why not model.approxSimilarityJoin (16×-tier stage histograms,
    round 8): its explode→join carries both feature vectors and
    evaluates keyDistance inside planner exchanges we cannot pin, and
    AQE's byte-based coalescing folded that stage to 5 tasks — one
    318-521 s task while the box idled. The band table here is
    (band, bucket, id); the pair join is pinned to the session's
    shuffle width and the exact distance work happens later, in the
    caller's pinned vector join."""
    from pyspark.ml.functions import vector_to_array

    from ml_data_wrangler_spark.operators._partition import pin_join_width

    bands = hashed.select(
        F.col(id_col),
        F.posexplode("hashes").alias("_band", "_h"),
    ).select(
        id_col,
        "_band",
        vector_to_array(F.col("_h")).getItem(0).cast("long").alias("_bucket"),
    )
    a = pin_join_width(
        bands.select(F.col(id_col).alias("vec_a"), "_band", "_bucket"),
        "_band", "_bucket",
    )
    b = pin_join_width(
        bands.select(F.col(id_col).alias("vec_b"), "_band", "_bucket"),
        "_band", "_bucket",
    )
    pairs = (
        a.hint("shuffle_hash")
        .join(b.hint("shuffle_hash"), ["_band", "_bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    # deduplicate=False lets a caller that dedupes AFTER its own
    # (selective, map-side) pruning skip a full-width distinct over
    # the raw band pairs — qv06's recall probe shrinks ~dense
    # candidates to the exact-pair set first
    return pairs.distinct() if deduplicate else pairs


# broadcast ceiling for the candidate-verify vector map: below this,
# the per-pair vector fetch is two map-side hash probes pipelined into
# the candidate stage (NO per-pair vector shuffle); above, fall back
# to width-pinned shuffle-hash joins. The duplicate-heavy tiers make
# LSH candidates ~dense (94% of all pairs at the 16× fixture — near-
# identical replicas co-bucket), so shuffling two 512-byte vectors per
# candidate pair was the dominant cost of the verify.
_VEC_BROADCAST_BYTES = 128 << 20

# per-row bytes beyond the raw vector payload in a broadcast hash
# relation: 8-byte id, optional 8-byte hoisted norm, array offsets,
# UnsafeRow/object headers and the hash-map entry itself. dim·8 alone
# undercounts the real broadcast severalfold on small dims (round-8
# ADVICE), flipping the gate exactly where broadcast hurts most.
_VEC_ROW_OVERHEAD_BYTES = 96


def _verify_vectors(
    cand: DataFrame, vecs: DataFrame, id_col: str, n_vec: int, dim: int
) -> DataFrame:
    """Attach both endpoint vector columns (_va, _vb) of ``vecs``
    (schema: id, _nv[, _n]) to the candidate id pairs — broadcast
    map-side when the whole vector table (payload + per-row overhead)
    fits _VEC_BROADCAST_BYTES, else width-pinned shuffle-hash joins
    (the 100 TB regime). A hoisted per-vector norm column ``_n``,
    when present, rides along as _na/_nb so the pair kernel never
    recomputes norms."""
    from ml_data_wrangler_spark.operators._partition import pin_join_width

    extra_a = [F.col("_n").alias("_na")] if "_n" in vecs.columns else []
    extra_b = [F.col("_n").alias("_nb")] if "_n" in vecs.columns else []
    a = vecs.select(
        F.col(id_col).alias("vec_a"), F.col("_nv").alias("_va"), *extra_a
    )
    b = vecs.select(
        F.col(id_col).alias("vec_b"), F.col("_nv").alias("_vb"), *extra_b
    )
    if n_vec * (dim * 8 + _VEC_ROW_OVERHEAD_BYTES) <= _VEC_BROADCAST_BYTES:
        return cand.join(F.broadcast(a), "vec_a").join(F.broadcast(b), "vec_b")
    j1 = pin_join_width(cand, "vec_a").join(
        pin_join_width(a, "vec_a").hint("shuffle_hash"), "vec_a"
    )
    return pin_join_width(j1, "vec_b").join(
        pin_join_width(b, "vec_b").hint("shuffle_hash"), "vec_b"
    )


def lsh_ann_pairs(
    corpus: DataFrame,
    distance_threshold: float = 1.0,
    num_hash_tables: int = 4,
    bucket_length: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n_vec: int | None = None,
) -> DataFrame:
    """Approximate near-neighbor PAIRS on L2-normalized vectors via
    BucketedRandomProjectionLSH (random hyperplane projections).
    Euclidean distance d on unit vectors ↔ cosine = 1 - d²/2.

    Same candidates and same exact-distance filter as MLlib's
    approxSimilarityJoin (the hash model IS MLlib's, seeded), but the
    candidate join is the compact pinned-width id-pair join of
    :func:`_lsh_candidate_ids` and the distance evaluates in one
    pinned vector join — the composition that survived the 16×-tier
    stage audit (approxSimilarityJoin's internal exchange AQE-folded
    to 5 tasks; see ROUND_NOTES r08).

    ``n_vec`` sizes the verify join's broadcast gate; pass it when
    the caller already knows the corpus size to skip the one eager
    count() job this otherwise pays per call."""
    from pyspark.ml.functions import vector_to_array

    from ml_data_wrangler_spark.functions.vectors import (
        infer_dim,
        unrolled_sqdist,
    )

    hashed = _lsh_normalized(
        corpus, num_hash_tables, bucket_length, id_col, vec_col, seed
    )
    cand = _lsh_candidate_ids(hashed, id_col)
    vecs = hashed.select(
        F.col(id_col), vector_to_array(F.col("_features")).alias("_nv")
    )
    # keyDistance = Euclidean² on the normalized features, unrolled to
    # a compiled expression (the HOF fold burned ~10× the executor
    # time of MLlib's compiled sqdist on the same pairs; same
    # ascending fold → identical doubles)
    dim = infer_dim(corpus, vec_col) or 0
    sqdist = unrolled_sqdist(F.col("_va"), F.col("_vb"), dim)
    return (
        _verify_vectors(
            cand, vecs, id_col, corpus.count() if n_vec is None else n_vec, dim
        )
        .withColumn("_d2", sqdist)
        .where(F.sqrt(F.col("_d2")) <= distance_threshold)
        .select(
            "vec_a",
            "vec_b",
            F.round(1.0 - F.col("_d2") / 2.0, 6).alias("est_cosine"),
        )
    )


def _require_integral_id(df: DataFrame, id_col: str, caller: str) -> None:
    """The fold kernels emit (long, long, double): reject a
    non-integral id up front — a string id would crash inside the
    pandas UDF at runtime and a float id would truncate silently."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{caller} requires an integral id column; "
            f"{id_col!r} is {id_type.simpleString()}"
        )


def _empty_sims(a_col: str, b_col: str):
    """The zero-row (a long, b long, sim double) frame a scoring UDF
    returns for a group with nothing to emit."""
    import pandas as pd

    return pd.DataFrame(
        {
            a_col: pd.Series([], dtype="int64"),
            b_col: pd.Series([], dtype="int64"),
            "sim": pd.Series([], dtype="float64"),
        }
    )


# The fold tile shared by brute_force_topk_fold and
# block_allpairs_cosine. Private, so perfbench's span tracing (which
# wraps public functions) never sits inside a scoring loop.


def _round6(sims):
    """Half-away-from-zero to 6 decimals — Spark/DuckDB ROUND. The
    emulation floor(x·1e6+0.5) re-rounds at the multiply and the add,
    so a sim whose scaled fraction sits within 1 ulp of .5 could in
    principle land 1e-6 off a decimal-path ROUND — an ulp-edge risk
    that has never fired across sf0.01/sf0.1/16× gates, documented
    rather than claimed away."""
    import numpy as np

    scaled = sims * 1e6
    return (
        np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5))
        / 1e6
    )


def _fold_norms(v):
    """Row L2 norms of (n, d) ``v`` by the ascending per-dimension
    fold — bit-identical to l2_norm()."""
    import numpy as np

    sq = np.zeros(v.shape[0])
    for i in range(v.shape[1]):
        sq += v[:, i] * v[:, i]
    return np.sqrt(sq)


def _fold_tile(a, b, norm_a, norm_b):
    """Rounded cosine tile (len(a), len(b)): every dot accumulates
    per dimension in ascending order — the ((0+t₀)+t₁)+… fold the
    relational kernel runs per pair — over the outer product of the
    row norms."""
    import numpy as np

    dots = np.zeros((a.shape[0], b.shape[0]))
    for i in range(a.shape[1]):
        dots += np.outer(a[:, i], b[:, i])
    return _round6(dots / np.outer(norm_a, norm_b))


# tile side length for hot-block decomposition: 2048² ≈ 4.2M score
# cells per task — the same ceiling the in-scorer chunk loop uses, so
# one (ci, cj) tile pair is roughly one chunk iteration of work
_TILE_ROWS = 2048


def block_allpairs_cosine(
    corpus: DataFrame,
    block_col: str | list[str],
    sim_threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    row_chunk: int = 4096,
    tile_rows: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine WITHIN each block as one Arrow/numpy
    GEMM per block (applyInPandas), emitting (vec_a, vec_b, sim) with
    vec_a < vec_b and sim ≥ sim_threshold, rounded to 6.

    Why not a salted relational self-join (round 8, measured at sf0.1
    AND 16×): the per-pair JVM cosine — higher-order fold or a 64-term
    unrolled expression alike — costs ~12 µs/pair (2M pairs = 46 s),
    so the join's kernel dominates regardless of how well the shuffle
    is balanced. The per-block GEMM moves each vector ONCE (no
    per-pair vector traffic) and scores a pair in ~ns.

    Float discipline (the qm09/bm25_topk_py rule): pairs are scored
    by the shared fold tile (_fold_tile), so sims match the SQL
    oracle at every gated tier (see _round6 for the ulp-edge note).

    Parallelism vs block size — two regimes, chosen by ``tile_rows``:

    * ``tile_rows=None`` (default): one group per block. Correct when
      the block key bounds |block| BY CONSTRUCTION (qv04's ≤cap
      sub-blocks, qv06's fixed id-ranges) — the cheapest plan, one
      shuffle of the vectors.
    * ``tile_rows=k``: blocks are decomposed into (ci, cj) chunk-pair
      TILES so no single task scores more than ~k² cells. LSH buckets
      are NOT bounded by construction (94% of all pairs co-bucket on
      the duplicate-heavy 16× fixture), and a hot bucket as one
      applyInPandas group is one task — the round-8 audit flagged
      qv08's 190 s max task inside a 205 s wall. Each row is hashed
      to a chunk c = pmod(xxhash64(id), m) with m = ceil(|block|/k)
      (a block-partitioned window count — deliberately NOT a
      count-broadcast join, so the plan stays join-free) and emitted
      once per tile involving its chunk (×m rows for hot blocks
      only); a tile group scores cross-chunk pairs (ci < cj) or its
      chunk's upper triangle (ci == cj), each pair landing in exactly
      one tile. Deactivation: any block ≤ tile_rows has m = 1 — zero
      duplication, group key degenerates to the block key — so the
      only cost in the cool regime is the window's linear count pass.

    Memory: groups are additionally processed in row-chunks bounding
    any score tile at ~4M cells, so even a hash-skewed chunk degrades
    to more iterations, never a bigger allocation. Every emitted sim
    is the identical per-dimension fold on the identical (a, b)
    inputs whichever tile or chunk scores it, so callers that
    ``distinct()`` duplicate candidates (tiered_cosine_pairs' band
    copies) collapse them unchanged."""
    import numpy as np
    import pandas as pd

    thr = float(sim_threshold)

    def _score(ids_a, va, ids_b, vb, upper: bool) -> pd.DataFrame:
        # every (a, b) pair with sim ≥ thr, emitted id-ordered (a
        # cross tile's chunks are hash residues, not id ranges);
        # ``upper``: a and b are the same id-sorted rows, keep the
        # strict upper triangle. Either way a pair's sim is the same
        # fold tile on the same inputs wherever it is scored.
        nrm_a = _fold_norms(va)
        nrm_b = nrm_a if upper else _fold_norms(vb)
        # bound the score tile at ~4M cells whatever the group size
        chunk = max(128, min(row_chunk, 4_000_000 // max(len(ids_b), 1)))
        out_a, out_b, out_s = [], [], []
        for lo in range(0, len(ids_a), chunk):
            hi = min(lo + chunk, len(ids_a))
            sims = _fold_tile(va[lo:hi], vb, nrm_a[lo:hi], nrm_b)
            rows, cols = np.nonzero(sims >= thr)
            if upper:
                keep = (rows + lo) < cols
                rows, cols = rows[keep], cols[keep]
            ia, ib = ids_a[rows + lo], ids_b[cols]
            out_a.append(np.minimum(ia, ib))
            out_b.append(np.maximum(ia, ib))
            out_s.append(sims[rows, cols])
        if not out_a:
            return _empty_sims("vec_a", "vec_b")
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a).astype("int64"),
                "vec_b": np.concatenate(out_b).astype("int64"),
                "sim": np.concatenate(out_s),
            }
        )

    def _stack(pdf: pd.DataFrame):
        return (
            pdf[id_col].to_numpy(),
            np.stack(pdf["_v"].to_numpy()).astype(np.float64),  # (n, d)
        )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _empty_sims("vec_a", "vec_b")
        if "_ti" in pdf.columns and pdf["_ti"].iat[0] != pdf["_tj"].iat[0]:
            # cross-chunk tile: every (a ∈ chunk ti, b ∈ chunk tj) pair
            a_side = pdf["_c"].to_numpy() == pdf["_ti"].iat[0]
            pa, pb = pdf[a_side], pdf[~a_side]
            if not len(pa) or not len(pb):
                return _empty_sims("vec_a", "vec_b")
            return _score(*_stack(pa), *_stack(pb), upper=False)
        ids, v = _stack(pdf.sort_values(id_col))
        return _score(ids, v, ids, v, upper=True)

    from ml_data_wrangler_spark.operators._partition import pin_join_width

    block_cols = [block_col] if isinstance(block_col, str) else list(block_col)
    prepped = corpus.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    _require_integral_id(prepped, id_col, "block_allpairs_cosine")
    group_cols = list(block_cols)
    if tile_rows is not None:
        from pyspark.sql import Window as W

        bn = F.count("*").over(W.partitionBy(*[F.col(c) for c in block_cols]))
        m = F.greatest(F.lit(1).cast("long"), F.ceil(bn / F.lit(int(tile_rows))))
        prepped = (
            prepped.withColumn("_m", m)
            .withColumn("_c", F.pmod(F.xxhash64(F.col(id_col)), F.col("_m")))
            .withColumn(
                "_j", F.explode(F.sequence(F.lit(0).cast("long"), F.col("_m") - 1))
            )
            .withColumn("_ti", F.least("_c", "_j"))
            .withColumn("_tj", F.greatest("_c", "_j"))
            .drop("_m", "_j")
        )
        group_cols += ["_ti", "_tj"]
    # pin the group exchange's width: the vector rows compress small
    # enough for AQE's byte-based coalescing to fold the groupBy to a
    # handful of tasks while each group runs a quadratic GEMM
    # (measured 16×: 4 tasks for ~40 bucket groups)
    prepped = pin_join_width(prepped, *group_cols)
    return prepped.groupBy(*group_cols).applyInPandas(
        score_block, schema="vec_a long, vec_b long, sim double"
    )


def blocked_cosine_pairs(
    corpus: DataFrame,
    block_col: str = "label",
    sim_threshold: float = 0.35,
    block_cap: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic blocked pairwise cosine with a hot-block work cap.

    Within each block (e.g. a label), vectors are ranked by id (a
    window PARTITIONED by the block — never global) and split into
    consecutive sub-blocks of ``block_cap`` rows; pairs are compared
    only within a sub-block. For every block with ≤ block_cap members
    — the normal case — there is exactly one sub-block and the
    semantics are EXACT all-pairs-within-block. For a hot block the
    comparison count degrades gracefully from |block|² to
    |block|·block_cap (linear in the data), so one skewed key can
    never go quadratic; production routes such blocks to the LSH tier
    (tiered_cosine_pairs) instead, which bounds candidates without
    the sub-block recall loss.

    Fully oracle-expressible: rank/sub-block/join/threshold are plain
    SQL. Returns (vec_a, vec_b, sim) with vec_a < vec_b, sim rounded
    to 6 and ≥ sim_threshold.
    """
    from pyspark.sql import Window as W

    c = corpus.select(
        F.col(id_col), F.col(block_col).alias("_blk"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "_sub",
        F.floor(
            (F.row_number().over(W.partitionBy("_blk").orderBy(id_col)) - 1)
            / F.lit(block_cap)
        ),
    )
    # One GEMM per (_blk, _sub) group (block_allpairs_cosine): the
    # salted relational self-join this replaces was join-balance
    # machinery around a ~12 µs/pair JVM kernel — the per-dimension
    # numpy fold scores the same pairs at ~ns each with bit-identical
    # rounded sims, moves each vector once, and the ≤``block_cap``
    # group size bounds every GEMM tile by construction. Parallelism
    # = number of sub-blocks (N/cap at scale ≫ cores); no salt, no
    # width pinning, nothing to deactivate.
    return block_allpairs_cosine(
        c,
        block_col=["_blk", "_sub"],
        sim_threshold=sim_threshold,
        id_col=id_col,
        vec_col="v",
    )


def tiered_cosine_pairs(
    corpus: DataFrame,
    sim_threshold: float = 0.35,
    num_hash_tables: int = 4,
    bucket_length: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs, TIERED the way qd05 tiers dedup:
    LSH candidate generation → exact cosine verification.

    This replaces all-pairs-within-block joins (qv04's shape) as the
    recommended near-dup path at scale: a blocked self-join is
    Σ|block|² and one hot block goes quadratic, while LSH bucket keys
    bound candidate generation regardless of label skew; the exact
    cosine then makes precision exact (recall is the LSH model's —
    measured against the exact ground truth in
    tests/test_dedup_similarity.py).

    The candidate net is the LSH bucket co-membership itself (no
    intermediate distance filter): on unit vectors a distance gate at
    √(2−2θ) admits exactly the pairs the final exact cosine ≥ θ keeps,
    so filtering candidates by distance first would pay a SECOND full
    vector join for rows the sim gate re-judges anyway — the 16×-tier
    stage audit showed that join as the whole query.

    Returns (vec_a, vec_b, sim) with vec_a < vec_b, sim exact and
    ≥ sim_threshold.
    """
    from pyspark.ml.functions import vector_to_array

    # Candidates = LSH bucket co-membership, and the verify runs
    # WHERE the candidates already live: one block GEMM per
    # (band, bucket) group over the RAW vectors, then distinct on the
    # ≥θ survivors (a pair sharing k buckets is scored k times to the
    # same rounded sim — same per-dimension fold on the same inputs —
    # so distinct collapses the copies). Nothing else scales on the
    # duplicate-heavy tiers, where candidates go ~dense (94% of all
    # pairs at the 16× fixture): materializing candidate ID PAIRS as
    # rows costs O(candidates) shuffle/Arrow traffic before any
    # kernel runs (measured: 638 s for a broadcast mapInPandas
    # scorer, 324 s for MLlib's inline keyDistance, both dominated by
    # per-pair row handling), while the per-bucket GEMM moves each
    # vector once per band and touches pairs only inside numpy tiles.
    # Hot buckets are NOT bounded by construction (the same 94%
    # co-bucketing makes one bucket ≈ the corpus), so this caller
    # passes tile_rows: a hot (band, bucket) group decomposes into
    # (ci, cj) chunk-pair tiles of ≤ ~4M score cells each — the
    # round-8 audit's 190 s single-task GEMM becomes ~bn²/tile² tasks
    # — while buckets ≤ tile_rows keep m=1 (no duplication). A pair
    # sharing k buckets is scored k times to the same rounded sim
    # (identical per-dimension fold on identical inputs, tile-
    # invariant), so the distinct below collapses the copies.
    hashed = _lsh_normalized(
        corpus, num_hash_tables, bucket_length, id_col, vec_col, seed
    )
    bands = hashed.select(
        F.col(id_col),
        F.col(vec_col).alias("_rawv"),
        F.posexplode("hashes").alias("_band", "_h"),
    ).select(
        id_col,
        "_rawv",
        "_band",
        vector_to_array(F.col("_h")).getItem(0).cast("long").alias("_bucket"),
    )
    return block_allpairs_cosine(
        bands,
        block_col=["_band", "_bucket"],
        sim_threshold=sim_threshold,
        id_col=id_col,
        vec_col="_rawv",
        tile_rows=_TILE_ROWS,
    ).distinct()


def brute_force_topk_fold(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    row_chunk: int = 4096,
    max_broadcast_cells: int = 32_000_000,
    max_executor_cells: int = 512_000_000,
) -> DataFrame:
    """Exact cosine top-k, ORACLE-GRADE: chunk-local fold-GEMM
    scoring with values bit-identical to ``brute_force_topk``'s
    relational kernel (same ascending per-dimension float64 fold from
    a 0.0 accumulator, same half-away-from-zero 6-decimal rounding,
    same (sim DESC, neighbor_id ASC) total order) — so a query pinned
    to a SQL oracle hash can swap kernels without moving a value.

    Why it exists (round 9, measured): ``brute_force_topk`` shuffles
    the FULL |C|×|Q| scored stream into the rank window — at the 32×
    tier that is 2.05e8 rows through a sort whose spill compounds the
    per-pair JVM fold, measured 346.8 s = 10.05× over 16× on 4.1×
    pair growth (SCALE_SWEEP_r09_32x_batch2.log; the stage audit says
    parallel-ok — it is pure work growth, not imbalance). Here each
    corpus chunk scores a (B, Q) tile with the fold tile
    ``block_allpairs_cosine`` shares (_fold_tile) and emits only its
    chunk-local top-k per query; the window then merges
    O(chunks × Q × k) rows, never the score matrix.

    Chunk-local selection is done under the FINAL total order, so the
    global merge is exact even with the duplicate-heavy tiers' wide
    rounded-sim ties: rows are pre-sorted by neighbor id and a STABLE
    argsort on the rounded sims inherits the id tie-break; any global
    top-k row is within its chunk's top-k by the same order.

    Auto-dispatch by query-side size (round 10, closing the r09
    verdict's item 3): up to ``max_broadcast_cells`` float64 cells
    (default 256 MB) the query side is collected and broadcast whole
    (it is the ANN ground-truth SAMPLE — 5% at every tier). Above the
    cap the query side is hash-sliced on xxhash64(id) into
    broadcastable slices and each slice runs the SAME fold kernel as
    its own union branch — slices partition query ids disjointly, so
    every query's rows come from exactly one branch and the single
    global rank window is exact under the unchanged total order. The
    corpus is re-scanned once per slice (by construction the query
    side no longer fits one executor's memory; at cluster scale the
    branches schedule concurrently within the one job).

    Above ``max_executor_cells`` (round 11) even the sliced path is
    wrong — its per-slice broadcasts total Q×D cells resident on
    every executor, and the slices collect sequentially through the
    driver. The third tier shuffles instead of broadcasting: a
    (query-slice × corpus-chunk) grid cogroup ships O(Q·Nc + C·Nq)
    rows through one exchange with nothing pinned in executor
    storage, runs the same tile kernel per cell, and feeds the same
    global rank window — exact by the same chunk-local-top-k
    argument, bit-identical values because all three tiers share
    ``_tile_topk``.

    Input contract (fails LOUDLY, r09 ADVICE): embeddings must be
    non-null, rectangular, and finite with nonzero norm on BOTH
    sides — a zero-norm or NaN vector raises instead of silently
    diverging from the relational kernel's NaN-ranks-first ordering.
    Per-slice query broadcasts live for the session (bounded by Q×D
    cells total).
    """
    import numpy as np
    import pandas as pd

    _require_integral_id(corpus, id_col, "brute_force_topk_fold")
    _require_integral_id(queries, id_col, "brute_force_topk_fold")

    def _stack_checked(vals: "np.ndarray", side: str):
        """(matrix, fold norms) of one side's embeddings, enforcing
        the input contract."""
        if any(v is None for v in vals):
            raise ValueError(
                f"brute_force_topk_fold: null {side} embedding — the fold "
                "kernel requires clean vectors (filter nulls upstream)"
            )
        lens = {len(v) for v in vals}
        if len(lens) > 1:
            raise ValueError(
                f"brute_force_topk_fold: ragged {side} embeddings "
                f"(lengths {sorted(lens)})"
            )
        m = np.stack(vals).astype(np.float64)
        n = _fold_norms(m)
        if not np.isfinite(n).all() or (n == 0).any():
            raise ValueError(
                f"brute_force_topk_fold: zero-norm or non-finite {side} "
                "embedding — would silently diverge from the relational "
                "kernel's NaN ordering (clean or drop it upstream)"
            )
        return m, n

    def _query_slice(q_pdf: "pd.DataFrame"):
        """(ids, matrix, norms) of one in-memory query slice — a
        broadcast branch or a grid cell."""
        qm, qn = _stack_checked(q_pdf["v"].to_numpy(), "query")  # (Q, D)
        if qm.size > 4 * max_broadcast_cells:
            # slices target a quarter budget, so 16× headroom before
            # this trips — only pathological qid-hash skew reaches it,
            # and it must fail loudly, not materialize an oversized
            # query slice in every task
            raise ValueError(
                f"brute_force_topk_fold query slice over budget "
                f"({qm.shape[0]}×{qm.shape[1]} cells > "
                f"4×{max_broadcast_cells}) — pathological qid-hash skew"
            )
        return q_pdf["qid"].to_numpy().astype("int64"), qm, qn

    spark = corpus.sparkSession
    sc = spark.sparkContext
    out_schema = "query_id long, neighbor_id long, sim double"
    qsel = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def _tile_topk(nids_all, vs_all, ids_b, qm_b, qn_b):
        """Score one corpus-row block against one in-memory query
        matrix, yielding chunk-local top-k rows under the FINAL total
        order — the single scoring kernel every dispatch path
        (broadcast, sliced, grid cogroup) runs, so values can never
        diverge between physical strategies."""
        n_q = len(ids_b)
        # bound each score tile at ~4M cells whatever Arrow hands us;
        # no floor — a 128-row floor at n_q > 31,250 would break the
        # bound (r09 ADVICE)
        chunk = max(1, min(row_chunk, 4_000_000 // max(n_q, 1)))
        for lo in range(0, len(nids_all), chunk):
            hi = min(lo + chunk, len(nids_all))
            nids = nids_all[lo:hi]
            c, cn = _stack_checked(vs_all[lo:hi], "corpus")  # (B, D)
            if c.shape[1] != qm_b.shape[1]:
                # a locally-rectangular chunk can still be ragged vs
                # the query side (rows split across partitions) — same
                # loud-failure contract
                raise ValueError(
                    "brute_force_topk_fold: ragged corpus "
                    f"embeddings (corpus dim {c.shape[1]} != "
                    f"query dim {qm_b.shape[1]})"
                )
            # pre-sort by neighbor id: the stable sim sort below
            # then inherits the ASC id tie-break of the total order
            o = np.argsort(nids, kind="stable")
            nids, c, cn = nids[o], c[o], cn[o]
            sims = _fold_tile(c, qm_b, cn, qn_b)
            # self-matches can never be neighbors
            sims[nids[:, None] == ids_b[None, :]] = -np.inf
            kk = min(k, sims.shape[0])
            # stable sort on rounded sims: ties keep id order
            top = np.argsort(-sims, axis=0, kind="stable")[:kk]  # (kk, Q)
            sim_sel = np.take_along_axis(sims, top, axis=0)
            keep = np.isfinite(sim_sel)
            if not keep.any():
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.tile(ids_b, (kk, 1))[keep],
                    "neighbor_id": nids[top][keep],
                    "sim": sim_sel[keep],
                }
            )

    def scored_branch(q_pdf: "pd.DataFrame") -> DataFrame:
        bq = sc.broadcast(_query_slice(q_pdf))

        def score(batches):
            ids_b, qm_b, qn_b = bq.value
            for pdf in batches:
                if pdf.empty:
                    continue
                yield from _tile_topk(
                    pdf["nid"].to_numpy().astype("int64"),
                    pdf["v"].to_numpy(),
                    ids_b,
                    qm_b,
                    qn_b,
                )

        return prepped.mapInPandas(score, schema=out_schema)

    from ml_data_wrangler_spark.operators._partition import ensure_parallelism

    prepped = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )

    # one small job on the query side decides the dispatch
    probe = qsel.agg(
        F.count("*").alias("n"), F.max(F.size("v")).alias("d")
    ).first()
    n_q_total, dim = probe["n"], probe["d"] or 0
    if n_q_total == 0:
        return spark.createDataFrame([], out_schema + ", rank long")
    if n_q_total * dim <= max_broadcast_cells:
        scored = scored_branch(qsel.toPandas())
    elif n_q_total * dim > max_executor_cells:
        # GRID COGROUP (round 11, closing the r10 verdict's "missing"
        # item 5): above max_executor_cells the sliced path's total
        # broadcast footprint (Q×D cells resident on every executor)
        # no longer fits executor storage, and collecting slices
        # sequentially through the driver is itself the bottleneck.
        # Shuffle instead of broadcasting: queries hash into Nq slices
        # (each ≤ the quarter-budget a slice broadcast would have
        # used), the corpus into Nc chunks sized to the scan's own
        # parallelism, both sides replicate to the (slice, chunk) grid
        # cells that need them — O(Q·Nc + C·Nq) shuffled rows, nothing
        # resident — and each cell cogroup runs the SAME _tile_topk
        # kernel, so chunk-local top-k rows feed the unchanged global
        # rank window and the result is bit-identical to the broadcast
        # path (pinned by tests/test_fold_knn_grid.py).
        qsel = qsel.localCheckpoint()  # same determinism pin as below
        budget = max(max_broadcast_cells // 4, dim)
        n_slices = min(max(-(-(n_q_total * dim) // budget), 2), n_q_total)
        n_chunks = max(prepped.rdd.getNumPartitions(), 1)
        q_rep = (
            qsel.select(
                "qid", "v",
                F.pmod(F.xxhash64("qid"), F.lit(n_slices)).alias("si"),
            )
            .select(
                "qid", "v", "si",
                F.explode(
                    F.sequence(F.lit(0), F.lit(n_chunks - 1)).cast("array<long>")
                ).alias("cj"),
            )
            .select(
                "qid", "v",
                (F.col("si") * n_chunks + F.col("cj")).alias("cell"),
            )
        )
        c_rep = (
            prepped.select(
                "nid", "v",
                F.pmod(F.xxhash64("nid"), F.lit(n_chunks)).alias("cj"),
            )
            .select(
                "nid", "v", "cj",
                F.explode(
                    F.sequence(F.lit(0), F.lit(n_slices - 1)).cast("array<long>")
                ).alias("si"),
            )
            .select(
                "nid", "v",
                (F.col("si") * n_chunks + F.col("cj")).alias("cell"),
            )
        )

        def cell_topk(cpdf: "pd.DataFrame", qpdf: "pd.DataFrame"):
            parts = []
            if not (cpdf.empty or qpdf.empty):
                parts = list(
                    _tile_topk(
                        cpdf["nid"].to_numpy().astype("int64"),
                        cpdf["v"].to_numpy(),
                        *_query_slice(qpdf),
                    )
                )
            if not parts:
                return _empty_sims("query_id", "neighbor_id")
            return pd.concat(parts, ignore_index=True)

        scored = (
            c_rep.groupBy("cell")
            .cogroup(q_rep.groupBy("cell"))
            .applyInPandas(cell_topk, schema=out_schema)
        )
    else:
        # quarter-budget slices absorb hash imbalance (floored at one
        # row per slice for very wide vectors); ids are disjoint
        # across slices so the union needs no cross-branch merge.
        # Pin the query relation first: each slice re-scans it, and a
        # non-deterministic source (e.g. a rand() sample) would break
        # the disjoint/complete slice invariant across those scans.
        qsel = qsel.localCheckpoint()
        budget = max(max_broadcast_cells // 4, dim)
        n_slices = min(
            max(-(-(n_q_total * dim) // budget), 2), n_q_total
        )
        branches = []
        for s in range(n_slices):
            pdf = qsel.where(
                F.pmod(F.xxhash64("qid"), F.lit(n_slices)) == s
            ).toPandas()
            if not pdf.empty:
                branches.append(scored_branch(pdf))
        scored = branches[0]
        for b in branches[1:]:
            scored = scored.unionByName(b)
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def pq_reconstruction_report(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI'11) with an in-row
    quality report: split each D-dim vector into ``m`` contiguous
    subvectors, learn a ``k``-codeword codebook PER SUBSPACE (Lloyd's,
    deterministic init = the k lowest-id distinct subvectors), encode
    every vector as m one-byte codes, and emit per-vector
    reconstruction error of the decoded approximation alongside the
    error of the k=1 baseline (quantizing each subspace to its mean).

    Returns (vec_id, sq_err, sq_err_k1, norm_sq) — one row per vector.

    Scale shape: ONE groupBy(subspace) → applyInPandas job learns all
    m codebooks in parallel (each group holds N×(D/m) floats — for
    100 TB you train on a sample, which is how PQ is always built) and
    emits per-(vector, subspace) errors; one aggregation sums them per
    vector. Storage story: m·log2(k) bits per vector (8 bytes here vs
    256 for float32×64) — the memory-bound ANN regime's standard code.
    Deterministic: fixed init order, fixed iteration count, float64.
    """
    import numpy as np
    import pandas as pd

    d_sub_schema = "vec_id long, sub int, sq_err double, sq_err_k1 double, norm_sq double"

    def fit_encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        x = np.stack(pdf["subvec"].to_numpy()).astype(np.float64)  # (N, d/m)
        # deterministic init: first k DISTINCT subvectors in vec_id order
        seen, init = set(), []
        for row in x:
            key = row.tobytes()
            if key not in seen:
                seen.add(key)
                init.append(row)
            if len(init) == k:
                break
        cb = np.stack(init) if init else np.zeros((1, x.shape[1]))
        for _ in range(iters):
            d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(len(cb)):
                mask = assign == j
                if mask.any():
                    cb[j] = x[mask].mean(axis=0)
        d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        best = d2.min(axis=1)
        mean = x.mean(axis=0)
        err_k1 = ((x - mean) ** 2).sum(axis=1)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].astype("int64"),
                "sub": pdf["sub"].astype("int32"),
                "sq_err": best,
                "sq_err_k1": err_k1,
                "norm_sq": (x ** 2).sum(axis=1),
            }
        )

    # contiguous subspaces: subvector s = elements [s·D/m, (s+1)·D/m);
    # the caller's D must be divisible by m
    sub = (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .select(
            "vec_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.struct(
                        s.alias("sub"),
                        F.slice(
                            F.col("v"),
                            s * (F.size("v") / m).cast("int") + 1,
                            (F.size("v") / m).cast("int"),
                        ).alias("subvec"),
                    ),
                )
            ).alias("e"),
        )
        .select("vec_id", F.col("e.sub").cast("int").alias("sub"), F.col("e.subvec").alias("subvec"))
    )
    per_sub = sub.groupBy("sub").applyInPandas(
        lambda pdf: fit_encode(pdf), schema=d_sub_schema
    )
    return per_sub.groupBy("vec_id").agg(
        F.sum("sq_err").alias("sq_err"),
        F.sum("sq_err_k1").alias("sq_err_k1"),
        F.sum("norm_sq").alias("norm_sq"),
    )


def allpairs_cosine_topk_dense(
    entries: DataFrame,
    dim: int,
    k: int = 20,
    id_col: str = "doc_id",
    chunk: int = 128,
    max_broadcast_cells: int = 200_000_000,
) -> DataFrame:
    """Exact global top-k most-similar pairs over a SMALL dense
    vocabulary, without ever materializing the O(n²) pair keyspace.

    `entries` holds the sparse rows (id, idx, wt, nrm) of an n × dim
    weight matrix with dim small (≤ ~1k): idx ∈ [0, dim) is the
    vocabulary position, wt the (pre-rounded) weight, nrm the full
    per-document L2 norm (which may include weight mass OUTSIDE the
    dim pruned columns — e.g. df=1 terms that cannot co-occur but do
    count toward the norm).

    Why this exists: the inverted-index pair join (Σ df(t)² rows into
    a GROUP BY (a, b) of up to n²/2 keys) is the right plan for
    Zipfian vocabularies, but on a DENSE vocabulary (df ≈ Θ(n) for
    every term) it degenerates to an O(n²) shuffle — at the 6× scale
    tier that is ~1.6e10 pair rows ≈ 0.5 TB of shuffle spill, and NO
    row-at-a-time engine survives it (a row engine must materialize
    the pair keyspace to aggregate it; measured: both the naive Spark
    plan and the DuckDB oracle exhaust 80+ GB of disk). The dense
    formulation never creates pair rows at all: the full matrix is
    model-sized (n × dim ≤ ~2e8 cells gated by the caller), so it
    broadcasts like any other model table, and each partition streams
    its row-chunks through two BLAS products
        dot    = A_chunk @ M.T          (float64, exact weights)
        shared = (A_chunk≠0) @ (M≠0).T  (float32; counts ≤ dim < 2²⁴,
                                         so integer-exact)
    emitting only its chunk-local top-k pairs — O(partitions × k)
    rows move after scoring, nothing else. A final sort of those
    winners is exact: every global top-k pair is chunk-local top-k in
    the one chunk that owns its lower id.

    Semantics matched to the relational dual (and its SQL oracle):
    a pair exists iff it shares ≥ 1 pruned-vocab term (shared > 0 —
    NOT dot > 0: co-occurring zero-weight terms still create the
    pair, so the presence matrix is built from ENTRY MEMBERSHIP, not
    wt ≠ 0 — a term with df = n_docs has wt = round(tf·ln(1), 6) = 0
    yet still counts toward `shared` in the SQL dual's COUNT(*));
    doc_a < doc_b; cosine = round(dot / (nrm_a·nrm_b), 6)
    rounded HALF-UP (floor(x·1e6 + 0.5)/1e6 — numpy's np.round is
    half-to-even, which would diverge from Spark/DuckDB ROUND);
    ties broken by (doc_a, doc_b); NaN cosines (zero norms) rank
    HIGHEST, matching both engines' NaN-is-largest total order.

    At 100 TB: when n·dim ≤ ``max_broadcast_cells`` the whole matrix
    broadcasts once (single-pass fast path). Beyond the cap the
    corpus is split into contiguous id-RANGE blocks of ≤ cap cells
    and the same two GEMMs run once per block: round j broadcasts
    block j's matrix and scans only the rows with id < max(block j)
    (no smaller id can pair into the block — the triangular prune
    roughly halves total scan work), emitting tile-local top-k.
    Exactness is the same argument tile-wise: each doc_b lives in
    exactly ONE block, so every pair is scored exactly once, and a
    global top-k pair beats all but < k pairs everywhere — in
    particular inside its own (chunk × block) tile. Peak executor
    memory is one block's matrix regardless of n; per-round winners
    (O(tasks·k) rows) are drained to the driver so only one broadcast
    is ever live. The driver holds the sorted id list (8 bytes/doc)
    and n/B winner batches — model-sized at any corpus this dense
    regime applies to.
    """
    import numpy as np
    import pandas as pd

    spark = entries.sparkSession
    vecs = (
        entries.groupBy(F.col(id_col).alias("id"))
        .agg(
            F.collect_list(F.struct("idx", "wt")).alias("ent"),
            F.first("nrm").alias("nrm"),
        )
        # consumed several times (driver collect(s) for the broadcast
        # matrix blocks + the distributed chunk scans); pin so the
        # weight subtree runs once. Model-sized: n rows of ≤ dim
        # sparse entries.
        .localCheckpoint()
    )
    out_schema = "doc_a long, doc_b long, shared long, cosine double"

    def pack(block_rows):
        """(ids, weight matrix, presence matrix, norms) for a block.
        Presence comes from entry MEMBERSHIP (wt = 0 entries still
        co-occur)."""
        nb = len(block_rows)
        ids = np.empty(nb, dtype=np.int64)
        mat = np.zeros((nb, dim), dtype=np.float64)
        pres = np.zeros((nb, dim), dtype=np.float32)
        nrm = np.empty(nb, dtype=np.float64)
        for i, r in enumerate(block_rows):
            ids[i] = r["id"]
            nrm[i] = r["nrm"]
            for e in r["ent"]:
                mat[i, e["idx"]] = e["wt"]
                pres[i, e["idx"]] = 1.0
        return ids, mat, pres, nrm

    def make_score(bc):
        def score(batches):
            all_ids, m, mb, all_nrm = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                for lo in range(0, len(pdf), chunk):
                    part = pdf.iloc[lo : lo + chunk]
                    c = len(part)
                    a_ids = part["id"].to_numpy()
                    a_nrm = part["nrm"].to_numpy()
                    a = np.zeros((c, dim), dtype=np.float64)
                    a_pres = np.zeros((c, dim), dtype=np.float32)
                    for i, ent in enumerate(part["ent"]):
                        for e in ent:
                            a[i, e["idx"]] = e["wt"]
                            a_pres[i, e["idx"]] = 1.0
                    dot = a @ m.T
                    shared = (a_pres @ mb.T).astype(np.int64)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dot / (a_nrm[:, None] * all_nrm[None, :])
                    # cosines are ≥ 0 (weights are tf·ln(N/df) ≥ 0) or
                    # NaN, where _round6 is exactly floor(x·1e6+0.5)/1e6
                    # (half-up) and NaN passes through as NaN
                    cos = _round6(cos)
                    valid = (a_ids[:, None] < all_ids[None, :]) & (shared > 0)
                    # selection key: NaN must outrank every finite
                    # cosine (Spark and DuckDB order NaN above +inf)
                    key = np.where(np.isnan(cos), np.inf, cos)
                    key = np.where(valid, key, -1.0)
                    flat = key.ravel()
                    nv = int(valid.sum())
                    if nv == 0:
                        continue
                    if nv > k:
                        top = np.argpartition(-flat, k - 1)[:k]
                        kth = flat[top].min()
                        cand = np.flatnonzero(flat >= kth)
                    else:
                        cand = np.flatnonzero(flat > -1.0)
                    ca, cb = np.unravel_index(cand, key.shape)
                    order = np.lexsort((all_ids[cb], a_ids[ca], -flat[cand]))
                    sel = cand[order[:k]]
                    sa, sb = np.unravel_index(sel, key.shape)
                    yield pd.DataFrame(
                        {
                            "doc_a": a_ids[sa],
                            "doc_b": all_ids[sb],
                            "shared": shared[sa, sb],
                            "cosine": cos[sa, sb],
                        }
                    )

        return score

    id_rows = vecs.select("id").orderBy("id").collect()
    if not id_rows:
        return spark.createDataFrame([], out_schema)
    n = len(id_rows)

    if n * dim <= max_broadcast_cells:
        # fast path: one broadcast of the whole matrix, one scan
        bc = spark.sparkContext.broadcast(pack(vecs.collect()))
        winners = vecs.mapInPandas(make_score(bc), schema=out_schema)
        return winners.orderBy(F.desc("cosine"), "doc_a", "doc_b").limit(k)

    # blocked path: contiguous id-range blocks of ≤ cap cells; each
    # round broadcasts ONE block and scans the rows that can own a
    # pair into it (id < block max). Winners are drained per round so
    # a single block matrix is the peak memory at any n.
    sorted_ids = [r["id"] for r in id_rows]
    rows_per_block = max(1, max_broadcast_cells // dim)
    winner_rows: list = []
    for start in range(0, n, rows_per_block):
        block = sorted_ids[start : start + rows_per_block]
        lo_id, hi_id = block[0], block[-1]
        block_rows = vecs.where(
            (F.col("id") >= lo_id) & (F.col("id") <= hi_id)
        ).collect()
        bc = spark.sparkContext.broadcast(pack(block_rows))
        row_side = vecs.where(F.col("id") < hi_id)
        winner_rows.extend(
            row_side.mapInPandas(make_score(bc), schema=out_schema).collect()
        )
        bc.destroy()
    if not winner_rows:
        return spark.createDataFrame([], out_schema)
    winners = spark.createDataFrame(winner_rows, out_schema)
    return winners.orderBy(F.desc("cosine"), "doc_a", "doc_b").limit(k)
