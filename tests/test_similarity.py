"""LSH ANN quality checks: determinism + recall against the exact
all-pairs baseline (rows-only queries can't be oracle-checked, so their
semantics are pinned here)."""

from __future__ import annotations

import pyspark.sql.functions as F

from grocery_store_sales_forecasting_etl_pipeline_spark.operators import similarity as sim
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t


def _sign_buckets(emb, n_planes):
    dim = len(emb.select("embedding").first()[0])
    return emb.withColumn("bucket", sim.lsh_sign_bucket_col("embedding", n_planes, dim))


def test_lsh_buckets_deterministic(spark, sf_smoke):
    emb = _t(spark, sf_smoke, "embeddings")
    b1 = {r.vec_id: r.bucket for r in _sign_buckets(emb, 8).collect()}
    b2 = {r.vec_id: r.bucket for r in _sign_buckets(emb, 8).collect()}
    assert b1 == b2
    assert all(0 <= v < 256 for v in b1.values())


def test_lsh_candidates_subset_of_exact_pairs(spark, sf_smoke):
    emb = _t(spark, sf_smoke, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_1"), F.col("embedding").alias("v1"))
    b = emb.select(F.col("vec_id").alias("id_2"), F.col("embedding").alias("v2"))
    exact = {
        (r.id_1, r.id_2)
        for r in a.join(b, F.col("id_1") < F.col("id_2"))
        .filter(F.round(sim.cosine("v1", "v2"), 6) >= 0.4)
        .collect()
    }
    approx = {
        (r.id_1, r.id_2)
        for r in sim.lsh_ann_candidates(emb, n_planes=4, threshold=0.4, n_tables=4).collect()
    }
    # candidates pass the same cosine threshold, so they must be a subset
    assert approx <= exact
    # sign-LSH with few planes must keep decent recall on 0.4+ pairs
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.3, f"LSH recall too low: {recall:.2f} ({len(approx)}/{len(exact)})"


def test_knn_self_excluded_and_k_bounded(spark, sf_smoke):
    emb = _t(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    knn = sim.brute_force_knn(emb, queries, k=4).collect()
    by_q: dict[int, list] = {}
    for r in knn:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r.cosine_sim)
    assert set(by_q) == {0, 1, 2}
    for sims in by_q.values():
        assert len(sims) == 4
        assert sims == sorted(sims, reverse=True)


def test_ivf_exact_when_probing_all_lists(spark, sf_smoke):
    # nprobe = n_centroids degenerates to brute force: every query sees
    # every list, so the top-k must equal the exact baseline
    emb = _t(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    ivf = sim.ivf_search(emb, q, k=5, nprobe=4, n_centroids=4, n_iter=3)
    exact = sim.brute_force_knn(emb, q, k=5)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert got == want


def test_ivf_partial_probe_recall(spark, sf_smoke):
    emb = _t(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    ivf = sim.ivf_search(emb, q, k=5, nprobe=4, n_centroids=8, n_iter=5)
    exact = sim.brute_force_knn(emb, q, k=5)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    # approximate results must be real corpus pairs with >= 60% recall@5
    assert got, "IVF returned nothing"
    recall = len(got & want) / len(want)
    assert recall >= 0.6, f"IVF recall too low: {recall:.2f}"


def test_ivf_train_deterministic(spark, sf_smoke):
    import numpy as np

    emb = _t(spark, sf_smoke, "embeddings")
    c1 = sim.ivf_train(emb, n_centroids=4, n_iter=2)
    c2 = sim.ivf_train(emb, n_centroids=4, n_iter=2)
    assert np.allclose(c1, c2, atol=0)


def test_in_block_gemm_subsplit_bounded_and_exact(spark, sf_smoke):
    # adversarial skew: force >=50% of the corpus into ONE bucket and
    # check (a) the sub-split plan bounds per-task rows and (b) the pair
    # output is identical to the unsplit single-task-per-block kernel
    import pyspark.sql.functions as F_

    emb = _t(spark, sf_smoke, "embeddings")
    n = emb.count()
    # hot block 0 gets every even id (>=50%); the rest spread over 8 blocks
    skewed = emb.withColumn(
        "blk",
        F_.when(F_.col("vec_id") % 2 == 0, F_.lit(0)).otherwise(
            F_.pmod(F_.col("vec_id"), F_.lit(8)) + 1
        ),
    )
    unsplit = {
        (r.id_1, r.id_2, r.cosine_sim)
        for r in sim.in_block_pairs_gemm(
            skewed, "blk", threshold=0.3, max_block_rows=None
        ).collect()
    }
    cap = max(8, n // 20)  # far below the hot block's size -> forces splits
    split = {
        (r.id_1, r.id_2, r.cosine_sim)
        for r in sim.in_block_pairs_gemm(
            skewed, "blk", threshold=0.3, max_block_rows=cap
        ).collect()
    }
    assert split == unsplit, f"{len(split)} vs {len(unsplit)} pairs"
    # the sized frame must actually split the hot block and keep expected
    # sub-block sizes near the cap (hash imbalance allows small overshoot)
    base = skewed.select(
        F_.col("blk").alias("__blk"),
        F_.col("vec_id").alias("__id"),
        F_.col("embedding").alias("__vec"),
    )
    sized = sim._subsplit_blocks(base, "__blk", cap)
    hot_subs = sized.filter(F_.col("__blk") == 0).select("__sub").distinct().count()
    assert hot_subs > 1, "hot block was not sub-split"
    max_task = (
        sized.groupBy("__blk", "__sub").count().agg(F_.max("count")).collect()[0][0]
    )
    assert max_task <= 2 * cap, f"sub-block of {max_task} rows exceeds 2x cap {cap}"


def test_lsh_candidates_stable_under_bucket_cap(spark, sf_smoke):
    # the registry query (ann_lsh_candidates) runs with the default cap;
    # its output must match the uncapped kernel on the same buckets
    emb = _t(spark, sf_smoke, "embeddings")
    blocked = _sign_buckets(emb, 4)
    capped = {
        (r.id_1, r.id_2)
        for r in sim.in_block_pairs_gemm(
            blocked, "bucket", threshold=0.4, max_block_rows=16
        ).collect()
    }
    uncapped = {
        (r.id_1, r.id_2)
        for r in sim.in_block_pairs_gemm(
            blocked, "bucket", threshold=0.4, max_block_rows=None
        ).collect()
    }
    assert capped == uncapped


def test_blocked_gemm_equals_all_pairs_gemm(spark, sf_smoke):
    # the distributed block-triangle path must reproduce one all-pairs
    # GEMM exactly (same normalize/GEMM/round float shape), for any
    # block count — including blocks larger than the corpus hash range
    import numpy as np

    emb = _t(spark, sf_smoke, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(mat @ mat.T, 4)
    i, j = np.nonzero((sims >= 0.4) & (ids[:, None] < ids[None, :]))
    want = set(zip(ids[i].tolist(), ids[j].tolist(), sims[i, j].tolist()))
    for nb in (1, 3, 8):
        got = {
            (r.id_1, r.id_2, r.cosine_sim)
            for r in sim.cosine_dup_pairs_blocked(
                emb, threshold=0.4, round_to=4, n_blocks=nb
            ).collect()
        }
        assert got == want, f"n_blocks={nb}: {len(got)} vs {len(want)} pairs"


def test_embedding_quantize_zero_vector_guard(spark):
    """An all-zero embedding must yield zero codes/error, not a
    CAST(NaN AS INT) ANSI failure from the infinite scale."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, [0.0] * 8), (2, [1.0, -2.0] + [0.0] * 6)],
        "vec_id long, embedding array<float>",
    )
    # same guard expression as plans/simops.embedding_quantize
    e = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    work = df.select("vec_id", e.alias("e")).withColumn(
        "mx", F.expr("array_max(transform(e, x -> abs(x)))")
    ).withColumn(
        "codes",
        F.expr(
            "transform(e, x -> IF(mx = 0.0D, 0, greatest(least("
            "CAST(floor(x * (127.0D / mx) + 0.5D) AS INT), 127), -127)))"
        ),
    )
    rows = {r.vec_id: r.codes for r in work.collect()}
    assert rows[1] == [0] * 8
    assert rows[2][0] == 64 and rows[2][1] == -127


def test_simhash_candidates_equal_brute_force(spark):
    """Pigeonhole exactness: banded Hamming blocking + radius filter
    must return EXACTLY the brute-force radius-3 pairs, including on
    adversarial fingerprints that straddle band boundaries."""
    import itertools
    import random

    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.dedup import (
        simhash_candidate_pairs,
    )

    rng = random.Random(7)
    base = rng.getrandbits(32)
    fps = [(0, base)]
    # neighbors at distances 1..5 with flips clustered inside one band
    # AND spread across bands (the spread case is what banding must not miss)
    nxt = 1
    for dist in range(1, 6):
        in_band = base ^ ((1 << dist) - 1)  # flips in band 0 only
        bits = rng.sample(range(32), dist)  # flips across bands
        spread = base
        for b in bits:
            spread ^= 1 << b
        fps += [(nxt, in_band), (nxt + 1, spread)]
        nxt += 2
    fps += [(nxt + i, rng.getrandbits(32)) for i in range(40)]
    df = spark.createDataFrame(fps, "doc_id long, simhash long")
    got = sorted(
        (r.id_1, r.id_2, r.hamming)
        for r in simhash_candidate_pairs(df, "doc_id", "simhash").collect()
    )
    want = sorted(
        (a_id, b_id, bin(a ^ b).count("1"))
        for (a_id, a), (b_id, b) in itertools.combinations(fps, 2)
        if bin(a ^ b).count("1") <= 3
    )
    assert got == want and len(want) >= 5
