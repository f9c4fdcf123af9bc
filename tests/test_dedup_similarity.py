"""Dedup + similarity operator tests on crafted fixtures with known
answers (exact dedup groups, a known near-dup pair, known nearest
neighbors), plus recall assertions for the approximate paths."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.textstats import doc_fingerprint
from ml_data_wrangler_spark.operators.dedup import (
    dedup_keep_min,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from ml_data_wrangler_spark.operators.similarity import (
    brute_force_topk,
    ivf_index,
    ivf_search,
    lsh_ann_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tomorrow"
OTHER = "completely different text about spark query engines and shuffles"

DOCS = [
    Row(doc_id=1, text=BASE),
    Row(doc_id=2, text=BASE),              # exact dup of 1
    Row(doc_id=3, text="  THE  quick brown fox jumps over the lazy dog again and again today "),  # ws/case dup
    Row(doc_id=4, text=NEAR),              # near dup of 1
    Row(doc_id=5, text=OTHER),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS)


def test_exact_dedup_groups(docs):
    groups = {
        r["keeper_doc_id"]: r["n_copies"]
        for r in dedup_keep_min(docs, doc_fingerprint(F.col("text"))).collect()
    }
    assert groups[1] == 3  # 1, 2, 3 share a normalized fingerprint
    assert groups[4] == 1 and groups[5] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and 0.5 <= pairs[(1, 4)] < 1.0
    assert not any(5 in p for p in pairs)


def test_jaccard_strategies_identical(docs, spark):
    """count and prefix strategies are alternative physical plans for
    the same exact semantics — results must match row-for-row, on both
    the crafted fixture and the synthetic corpus."""
    for frame in (docs, None):
        if frame is None:
            from ml_data_wrangler_spark.sources.readers import read_table

            frame = read_table(spark, "/root/testdata/sf0.001", "documents")
        count_res = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(frame, k=3, threshold=0.6, strategy="count").collect()
        }
        prefix_res = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(frame, k=3, threshold=0.6, strategy="prefix").collect()
        }
        assert count_res == prefix_res
        assert len(count_res) > 0


def test_jaccard_rejects_unknown_strategy(docs):
    with pytest.raises(ValueError):
        ngram_jaccard_pairs(docs, strategy="bogus")


def test_minhash_recall_of_exact_pairs(docs):
    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    approx = {(r["doc_a"], r["doc_b"]) for r in
              minhash_near_dup_pairs(docs, k=3, jaccard_threshold=0.4, seed=42).collect()}
    assert exact <= approx  # LSH candidates must cover the exact pairs


def test_banded_minhash_recall_of_exact_pairs(docs):
    from ml_data_wrangler_spark.operators.dedup import (
        minhash_banded_near_dup_pairs,
    )

    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    approx = {(r["doc_a"], r["doc_b"]) for r in
              minhash_banded_near_dup_pairs(docs, k=3, jaccard_threshold=0.4).collect()}
    assert exact <= approx


def test_banded_pairs_agree_with_mllib(spark):
    """Agreement dual pinning the round-10 qd03 kernel swap (the qv11
    pattern): on the synthetic corpus both MinHash candidate kernels —
    MLlib approxSimilarityJoin (retired from the scale regime, r09
    verdict item 2) and the hand-rolled (32, 4) banded path — must
    catch every exact Jaccard≥0.6 pair at threshold 0.5, i.e. recall
    1.0 each at the qd03 operating point, so routing qd03 through the
    banded kernel moves no gate values."""
    from ml_data_wrangler_spark.operators.dedup import (
        minhash_banded_near_dup_pairs,
    )
    from ml_data_wrangler_spark.sources.readers import read_table

    corpus = read_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(corpus, k=3, threshold=0.6).collect()}
    assert exact, "fixture corpus must contain exact near-dup pairs"
    mllib = {(r["doc_a"], r["doc_b"]) for r in
             minhash_near_dup_pairs(corpus, k=3, jaccard_threshold=0.5, seed=42).collect()}
    banded = {(r["doc_a"], r["doc_b"]) for r in
              minhash_banded_near_dup_pairs(corpus, k=3, jaccard_threshold=0.5).collect()}
    assert exact <= mllib
    assert exact <= banded


def test_banded_est_jaccard_is_signature_agreement(docs):
    """est_jaccard must be the unbiased signature-agreement estimate:
    an exact dup pair (identical shingle sets → identical signatures)
    estimates exactly 1.0, and every estimate lies in [threshold, 1]."""
    from ml_data_wrangler_spark.operators.dedup import (
        minhash_banded_near_dup_pairs,
    )

    rows = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in
            minhash_banded_near_dup_pairs(docs, k=3, jaccard_threshold=0.4).collect()}
    assert rows[(1, 2)] == 1.0
    assert all(0.4 <= v <= 1.0 for v in rows.values())


def test_simhash_identical_docs_same_signature(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    assert sigs[1] != sigs[5]
    # near-dup docs have close signatures (small hamming distance)
    ham = bin(sigs[1] ^ sigs[4]).count("1")
    assert ham <= 8


def test_simhash_full_64_bits(docs):
    """bits=64 must be representable (sign bit via shiftleft, not a
    2**63 literal) and deterministic; out-of-range bits raise."""
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs, bits=64).collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    assert all(isinstance(v, int) for v in sigs.values())
    # at least one fixture doc exercises the high bits (negative long)
    with pytest.raises(ValueError):
        simhash_signatures(docs, bits=65)
    with pytest.raises(ValueError):
        simhash_signatures(docs, bits=0)


VECS = [
    Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0], label=0),
    Row(vec_id=2, embedding=[0.9, 0.1, 0.0, 0.0], label=0),
    Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0], label=1),
    Row(vec_id=4, embedding=[0.0, 0.95, 0.05, 0.0], label=1),
    Row(vec_id=5, embedding=[0.0, 0.0, 1.0, 0.0], label=2),
    Row(vec_id=6, embedding=[-1.0, 0.0, 0.0, 0.0], label=3),
]


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.createDataFrame(VECS)


def test_brute_force_topk_order(vectors):
    res = brute_force_topk(vectors, vectors.where(F.col("vec_id") == 1), k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(res, key=lambda r: r["rank"])]
    assert ranked[0] == 2          # closest
    assert ranked[-1] != 6 or len(ranked) == 3  # -1 cosine ranks last among top-3 set
    sims = {r["neighbor_id"]: r["sim"] for r in res}
    assert sims[2] > 0.99


def test_blocked_cosine_pairs_cap_semantics(spark):
    """qv04's hot-block cap: with block_cap larger than every block the
    result is EXACT all-pairs-within-block; with a biting cap, pairs
    only form within consecutive id-ranked sub-blocks, so total work is
    |block|·cap, never |block|². Identical near-identical vectors make
    every within-block pair pass the threshold, so the counts are pure
    combinatorics."""
    from ml_data_wrangler_spark.operators.similarity import blocked_cosine_pairs

    rows = [
        Row(vec_id=i, label="hot", embedding=[1.0, 0.0, float(i) * 1e-4])
        for i in range(1, 8)  # 7-member hot block, all mutually sim≈1
    ] + [Row(vec_id=100, label="cold", embedding=[0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows)

    uncapped = blocked_cosine_pairs(df, block_cap=1000, sim_threshold=0.9)
    assert uncapped.count() == 7 * 6 // 2  # exact all-pairs in the block

    capped = blocked_cosine_pairs(df, block_cap=3, sim_threshold=0.9)
    got = {(r["vec_a"], r["vec_b"]) for r in capped.collect()}
    # sub-blocks by id rank: {1,2,3}, {4,5,6}, {7} → 3 + 3 + 0 pairs,
    # and never a pair straddling a sub-block boundary
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)}


def test_tiered_cosine_pairs_recall_and_precision(spark):
    """qv08's tiered path (LSH candidates → exact verify) on the
    synthetic embeddings: precision must be exact by construction
    (every emitted pair's sim is the true cosine ≥ θ) and recall vs
    the exact all-pairs ground truth must be high for a fixed seed."""
    from ml_data_wrangler_spark.functions.vectors import cosine_similarity
    from ml_data_wrangler_spark.operators.similarity import tiered_cosine_pairs
    from ml_data_wrangler_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    c = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a, b = c.alias("a"), c.alias("b")
    sim = F.round(cosine_similarity(F.col("a.v"), F.col("b.v")), 6)
    exact = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in (
            a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                sim.alias("sim"),
            )
            .where(F.col("sim") >= 0.35)
        ).collect()
    }
    tiered = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in tiered_cosine_pairs(emb, sim_threshold=0.35, seed=42).collect()
    }
    # precision: every tiered pair is a true pair with the exact sim
    for pair, s in tiered.items():
        assert pair in exact and exact[pair] == s
    # recall: LSH candidates cover most of the ground truth
    assert len(exact) > 0
    recall = len(tiered) / len(exact)
    assert recall >= 0.8, f"recall {recall:.2f} over {len(exact)} pairs"


def test_block_allpairs_tile_decomposition_is_value_neutral(spark):
    """Hot-block tile decomposition (round-9 fix for qv08's
    single-task GEMM): with tile_rows far below the block size, the
    (ci, cj) tile groups must emit EXACTLY the same pair set with
    bit-identical sims as the one-group-per-block plan — each pair
    lands in exactly one tile and the per-dimension fold is
    tile-invariant — and a block ≤ tile_rows must deactivate to m=1
    (no row duplication, identical output)."""
    import random

    from ml_data_wrangler_spark.operators.similarity import block_allpairs_cosine

    rng = random.Random(9)
    rows = [
        Row(
            vec_id=i,
            blk=i % 2,
            embedding=[rng.uniform(-1, 1) for _ in range(8)],
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)

    def run(**kw):
        return {
            (r["vec_a"], r["vec_b"]): r["sim"]
            for r in block_allpairs_cosine(
                df, block_col="blk", sim_threshold=0.1, vec_col="embedding", **kw
            ).collect()
        }

    base = run()
    # 30-row blocks with tile_rows=7 → m=5 chunks → 15 tile groups/blk
    tiled = run(tile_rows=7)
    assert tiled == base and len(base) > 50
    # deactivation: blocks (30 rows) ≤ tile_rows (64) → m=1
    assert run(tile_rows=64) == base


def test_block_allpairs_rejects_non_integral_ids(spark):
    """The GEMM emits (long, long, double): a string id must fail
    loudly at plan time, not crash inside the pandas UDF (round-8
    ADVICE — float ids would otherwise truncate silently)."""
    import pytest

    from ml_data_wrangler_spark.operators.similarity import block_allpairs_cosine

    df = spark.createDataFrame(
        [Row(vec_id="a", blk=0, embedding=[1.0, 0.0])]
    )
    with pytest.raises(TypeError, match="integral id"):
        block_allpairs_cosine(df, block_col="blk", sim_threshold=0.5)


def test_ivf_search_finds_same_cluster_neighbor(vectors):
    assigned, centroids = ivf_index(vectors, n_clusters=3, seed=7)
    res = ivf_search(assigned, centroids, vectors.where(F.col("vec_id") == 1),
                     k=2, nprobe=2).collect()
    assert any(r["neighbor_id"] == 2 for r in res)


def test_near_dup_clusters_transitive_chain(spark):
    """A≈B and B≈C but A≉C must still land in ONE cluster labeled by
    the min doc_id — the transitivity a single min-id pair pass cannot
    express; unrelated docs stay singletons labeling themselves."""
    from ml_data_wrangler_spark.operators.dedup import near_dup_clusters

    # 10 tokens each; b differs from a in the last two, c differs from
    # b in the first two → J(a,b)=J(b,c)=6/10=0.6 but J(a,c)=4/12=0.33
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "alpha beta gamma delta epsilon zeta eta theta rho sigma"
    c = "tau upsilon gamma delta epsilon zeta eta theta rho sigma"
    docs = spark.createDataFrame(
        [Row(doc_id=10, text=a), Row(doc_id=20, text=b), Row(doc_id=30, text=c),
         Row(doc_id=40, text=OTHER)]
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in near_dup_clusters(docs, k=3, threshold=0.5).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 40: 40}


def test_ivf_recall_on_clustered_corpus(spark):
    """Mechanism-grade recall pin: on a corpus with REAL cluster
    structure (where IVF's model assumption holds), probing 2 of 4
    cells recovers nearly all exact top-3 neighbors — and the cheap
    build (random init, max_iter=5 default) is enough. On the
    unclusterable uniform fixture recall is bounded by data, not by
    the index, so this is the test that would catch a broken build."""
    import math
    import random

    rng = random.Random(7)
    centers = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0], [-10.0, -10.0, 0.0]]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(40):
            rows.append(Row(vec_id=vid, embedding=[x + rng.gauss(0, 0.5) for x in c]))
            vid += 1
    corpus = spark.createDataFrame(rows)
    queries = corpus.where(F.col("vec_id") % 10 == 0)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(corpus, queries, k=3).collect()
    }
    assigned, cents = ivf_index(corpus, n_clusters=4, seed=7)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_search(assigned, cents, queries, k=3, nprobe=2).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"IVF recall {recall:.2f} on clustered corpus"


def test_lsh_pairs_contains_nearest(vectors):
    pairs = {(r["vec_a"], r["vec_b"]) for r in
             lsh_ann_pairs(vectors, distance_threshold=0.8, num_hash_tables=6,
                           bucket_length=4.0, seed=7).collect()}
    assert (1, 2) in pairs
    assert (3, 4) in pairs


def test_dedup_pipeline_tiers(spark):
    from ml_data_wrangler_spark.operators.dedup import dedup_pipeline
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            Row(doc_id=3, text="the quick brown fox jumps over the lazy cat"),  # near dup of 1
            Row(doc_id=4, text="completely different content about spark engines"),
            Row(doc_id=5, text="THE QUICK  brown fox jumps over the lazy dog"),  # exact after normalization
        ]
    )
    out = {r["doc_id"]: (r["keep"], r["reason"]) for r in dedup_pipeline(docs, k=3, jaccard_threshold=0.5).collect()}
    assert out[1] == (True, "kept")
    assert out[2] == (False, "exact_duplicate")
    assert out[3] == (False, "near_duplicate")
    assert out[4] == (True, "kept")
    assert out[5] == (False, "exact_duplicate")


def test_fold_knn_bit_identical_to_jvm(spark, sf_dir):
    """brute_force_topk_fold must reproduce the relational kernel
    ROW-FOR-ROW — not just neighbor sets: same ascending per-dim
    fold, same rounding, same total order means identical (query_id,
    neighbor_id, sim, rank) tuples. This is what lets qv01 swap
    kernels while staying pinned to its SQL oracle hash."""
    from ml_data_wrangler_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_fold,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 20 == 0)
    jvm = sorted(map(tuple, brute_force_topk(emb, queries, k=5).collect()))
    fold = sorted(map(tuple, brute_force_topk_fold(emb, queries, k=5).collect()))
    assert len(fold) > 0
    assert fold == jvm


def test_fold_knn_and_block_allpairs_share_the_fold_tile(spark, sf_dir):
    """The top-k and all-pairs kernels score with one fold tile, so a
    pair both emit must carry the bit-identical sim — whether the
    all-pairs side scores it in a triangle or a cross-chunk tile
    (tile_rows below the block size forces both)."""
    from ml_data_wrangler_spark.operators.similarity import (
        block_allpairs_cosine,
        brute_force_topk_fold,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 20 == 0)
    topk = brute_force_topk_fold(emb, queries, k=5).select(
        F.least("query_id", "neighbor_id").alias("vec_a"),
        F.greatest("query_id", "neighbor_id").alias("vec_b"),
        F.col("sim").alias("sim_topk"),
    )
    pairs = block_allpairs_cosine(
        emb.withColumn("blk", F.lit(0)),
        block_col="blk",
        sim_threshold=-1.0,
        tile_rows=128,
    )
    rows = topk.join(pairs, ["vec_a", "vec_b"], "left").collect()
    assert len(rows) > 0
    assert all(r["sim"] is not None for r in rows), "pair missing from all-pairs"
    assert [r["sim"].hex() for r in rows] == [r["sim_topk"].hex() for r in rows]


def test_fold_knn_chunk_boundaries_are_value_neutral(spark, sf_dir):
    """Chunk-local top-k under the final total order must be
    insensitive to where the chunk boundaries fall — force 1-row
    score tiles (every chunk degenerates to a single corpus row) and
    the merged result must not move."""
    from ml_data_wrangler_spark.operators.similarity import brute_force_topk_fold

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    queries = emb.where(F.col("vec_id") % 20 == 0)
    base = sorted(map(tuple, brute_force_topk_fold(emb, queries, k=5).collect()))
    tiny = sorted(
        map(
            tuple,
            brute_force_topk_fold(emb, queries, k=5, row_chunk=1).collect(),
        )
    )
    assert base == tiny and len(base) > 0


def test_fold_knn_duplicate_ties_break_by_id(spark):
    """Duplicate-heavy regime (the scale tiers' shape): identical
    vectors produce identical rounded sims, so top-k must tie-break
    by ascending neighbor_id — and never emit a self-match."""
    from pyspark.sql import Row as R2

    from ml_data_wrangler_spark.operators.similarity import brute_force_topk_fold

    rows = [R2(vec_id=i, embedding=[1.0, 0.0]) for i in range(6)]
    rows += [R2(vec_id=10, embedding=[0.0, 1.0])]
    emb = spark.createDataFrame(rows)
    out = brute_force_topk_fold(
        emb, emb.where(F.col("vec_id") == 3), k=4
    ).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(0, 1), (1, 2), (2, 3), (4, 4)]


def test_fold_knn_distributed_slices_match_broadcast(spark, sf_dir):
    """Above max_broadcast_cells the kernel must auto-dispatch to the
    hash-sliced distributed path (round-10 verdict item 3) and return
    EXACTLY the broadcast path's rows — slices partition query ids
    disjointly under the unchanged total order. Forcing a tiny cap
    (queries = 125 ids × 64 dims = 8000 cells > 2000-cell cap → 16
    slices per the quarter-budget sizing) exercises the real slice
    machinery on the real corpus."""
    from ml_data_wrangler_spark.operators.similarity import brute_force_topk_fold

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 20 == 0)
    base = sorted(map(tuple, brute_force_topk_fold(emb, queries, k=5).collect()))
    sliced = sorted(
        map(
            tuple,
            brute_force_topk_fold(
                emb, queries, k=5, max_broadcast_cells=2000
            ).collect(),
        )
    )
    assert sliced == base and len(base) > 0


def test_fold_knn_rejects_degenerate_vectors(spark):
    """r09 ADVICE: zero-norm, null, and ragged embeddings must raise
    loudly instead of silently diverging from the relational kernel
    (which ranks NaN sims first under DESC)."""
    from pyspark.sql import Row as R2

    from ml_data_wrangler_spark.operators.similarity import brute_force_topk_fold

    clean = spark.createDataFrame(
        [R2(vec_id=1, embedding=[1.0, 0.0]), R2(vec_id=2, embedding=[0.0, 1.0])]
    )
    zero = spark.createDataFrame(
        [R2(vec_id=1, embedding=[0.0, 0.0]), R2(vec_id=2, embedding=[1.0, 0.0])]
    )
    with pytest.raises(Exception, match="zero-norm or non-finite"):
        brute_force_topk_fold(zero, zero.where(F.col("vec_id") == 2), k=1).collect()
    null = spark.createDataFrame(
        [R2(vec_id=1, embedding=[1.0, 0.0]), R2(vec_id=2, embedding=None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="null"):
        brute_force_topk_fold(null, clean, k=1).collect()
    ragged = spark.createDataFrame(
        [R2(vec_id=1, embedding=[1.0, 0.0]), R2(vec_id=2, embedding=[1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="ragged"):
        brute_force_topk_fold(ragged, clean, k=1).collect()


def test_fold_knn_rejects_non_integral_ids(spark):
    from pyspark.sql import Row as R2

    from ml_data_wrangler_spark.operators.similarity import brute_force_topk_fold

    emb = spark.createDataFrame([R2(vec_id="a", embedding=[1.0])])
    with pytest.raises(TypeError, match="integral id"):
        brute_force_topk_fold(emb, emb, k=1)


def test_pq_exactly_representable_corpus_has_zero_error(spark):
    """PQ sanity: a corpus drawn from 16 distinct prototype vectors is
    exactly representable by a k=16 codebook — reconstruction error
    must be 0 in every subspace, and the k=1 mean baseline must be
    strictly worse."""
    import numpy as np

    from ml_data_wrangler_spark.operators.similarity import (
        pq_reconstruction_report,
    )

    rng = np.random.RandomState(7)
    protos = rng.rand(16, 64).round(3)
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in protos[i % 16]])
        for i in range(80)
    ]
    rep = pq_reconstruction_report(
        spark.createDataFrame(rows), m=8, k=16, iters=10
    ).collect()
    assert len(rep) == 80
    # mean() of n identical float64 rows can differ from the row by an
    # ULP (n·v/n ≠ v in binary), so "exactly representable" lands at
    # ~1e-30, not literal 0
    assert all(r["sq_err"] < 1e-20 for r in rep)
    assert all(r["sq_err_k1"] > 1e-3 for r in rep)


def test_duplicate_spans_islands_and_boundaries(spark):
    """Hand-built corpus with known duplicated 3-gram spans: shared
    prefix/suffix passages merge into single spans; two separated
    duplicated grams in one doc stay two islands."""
    from ml_data_wrangler_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h i j"),
            Row(doc_id=2, text="x y a b c d e z w q"),
            Row(doc_id=3, text="p q r"),
            Row(doc_id=4, text="a b c u v w x y c d e"),
        ]
    )
    rows = {
        (r.doc_id, r.span_start): r
        for r in duplicate_spans(docs, k=3).collect()
    }
    # doc 1: grams at pos 1..3 shared with docs 2/4 -> one span [1,5]
    assert (1, 1) in rows and rows[(1, 1)].span_end == 5
    assert rows[(1, 1)].span_tokens == 5 and rows[(1, 1)].n_dup_grams == 3
    # doc 2: the same passage at offset 3 -> span [3,7]
    assert (2, 3) in rows and rows[(2, 3)].span_end == 7
    # doc 3: nothing duplicated
    assert not any(d == 3 for d, _ in rows)
    # doc 4: two duplicated grams 8 apart (> k) -> TWO islands
    assert (4, 1) in rows and rows[(4, 1)].span_end == 3
    assert (4, 9) in rows and rows[(4, 9)].span_end == 11
    assert len([1 for d, _ in rows if d == 4]) == 2


def test_jl_projection_preserves_identity_and_scale(spark):
    """Identical vectors project identically (cos_proj exactly 1 after
    normalization) and the projection is scale-equivariant up to the
    per-component rounding; distortion on distinct vectors is bounded
    on average by the JL regime for m=16."""
    from ml_data_wrangler_spark.functions.vectors import (
        cosine_similarity,
        jl_project,
    )

    vecs = spark.createDataFrame(
        [
            Row(vec_id=1, v=[float((i * 7) % 13 - 6) for i in range(64)]),
            Row(vec_id=2, v=[float((i * 7) % 13 - 6) for i in range(64)]),
            Row(vec_id=3, v=[float((i * 11) % 17 - 8) for i in range(64)]),
        ]
    )
    proj = vecs.withColumn("pv", jl_project(F.col("v"), 64, 16))
    rows = {r.vec_id: r for r in proj.collect()}
    assert rows[1].pv == rows[2].pv  # identical in, identical out
    assert len(rows[1].pv) == 16
    # distinct vectors: projected cosine within JL distortion of orig
    pair = (
        proj.where(F.col("vec_id") == 1)
        .alias("a")
        .crossJoin(proj.where(F.col("vec_id") == 3).alias("b"))
        .select(
            cosine_similarity(F.col("a.v"), F.col("b.v")).alias("co"),
            cosine_similarity(F.col("a.pv"), F.col("b.pv")).alias("cp"),
        )
        .collect()[0]
    )
    assert abs(pair.co - pair.cp) < 0.6  # ~2.4σ at m=16, deterministic fixture
