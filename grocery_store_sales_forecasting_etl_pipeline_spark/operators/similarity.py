"""Embedding similarity search over ``array<float>`` columns.

Baseline: brute-force cosine top-k with the dot product evaluated by JVM
higher-order functions (``zip_with`` + ``aggregate``) — no Python in the
hot path, elements promoted to double (float32×float32 products are exact
in double, so the left-to-right fold is engine-portable).

Scale path: sign-random-projection LSH bucketing (deterministic
hyperplanes derived from md5, so buckets are reproducible across engines
and runs). Candidates only pair within a bucket; recall is tuned by
n_planes (bucket granularity 2^n_planes) and n_tables (independent
repetitions). At 100 TB the brute-force path is reserved for a broadcast
query set (each query scans once, map-side only); all-pairs work must go
through the LSH path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
_NORM = "sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"


def cosine(a: str, b: str) -> Column:
    """Cosine similarity between two array<float|double> columns."""
    dot = _DOT.format(a=a, b=b)
    na = _NORM.format(a=a)
    nb = _NORM.format(a=b)
    return F.expr(f"({dot}) / (({na}) * ({nb}))")


def _with_vec_norm(df: DataFrame, vec_col: str, out_vec: str, out_norm: str) -> DataFrame:
    """Hoist the per-vector work out of pair loops: cast to double array
    and compute the L2 norm ONCE per row. Per-pair cost then reduces to a
    single dot product — at n² pairs this is the difference between
    O(n²·d) and O(3·n²·d + casts) (observed 4× on the all-pairs bench)."""
    return df.withColumn(
        out_vec, F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
    ).withColumn(out_norm, F.expr(_NORM.format(a=out_vec)))


def _pair_cosine(vec_a: str, norm_a: str, vec_b: str, norm_b: str) -> Column:
    """dot/(‖a‖·‖b‖) over pre-normed double arrays — identical float
    shape to ``cosine`` (left-to-right dot, sqrt·sqrt denominator), so
    rounded results stay oracle-exact."""
    dot = _DOT.format(a=vec_a, b=vec_b)
    return F.expr(f"({dot}) / ({norm_a} * {norm_b})")


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k neighbors for each query vector via broadcast of the
    query set: (query_id, neighbor_id, cosine_sim), ranked by rounded
    similarity with neighbor-id tie-break (deterministic).

    The corpus is scanned once; similarity + per-query top-k heap run
    map-side (window over broadcast-joined rows shuffles only by query
    id — |queries| partitions of |corpus| rows). Norms/double-casts are
    hoisted per row, so each pair costs one dot product.
    """
    q = _with_vec_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")),
        "query_vec",
        "qv",
        "qn",
    ).select("query_id", "qv", "qn")
    joined = _with_vec_norm(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("corpus_vec")),
        "corpus_vec",
        "cv",
        "cn",
    ).select("neighbor_id", "cv", "cn").crossJoin(q)
    scored = joined.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        F.round(_pair_cosine("qv", "qn", "cv", "cn"), round_to).alias("cosine_sim"),
    )
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.windows import topk_per_group

    return topk_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.col("cosine_sim").desc(), F.col("neighbor_id")],
        k=k,
    )


def cosine_dup_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int = 4,
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold with distributed block-triangle
    GEMM: nothing is ever collected to the driver, so there is no
    corpus-size ceiling.

    Ids hash-partition into ``n_blocks`` blocks; every unordered block
    pair (b1 ≤ b2) becomes one cogroup whose two sides are the full
    member sets of b1 and b2, multiplied with one numpy GEMM inside
    ``applyInPandas``. Every vector pair lands in exactly one cogroup
    (diagonal groups dedup with id_1 < id_2; off-diagonal pairs appear
    once because blocks partition the id space), so the result is
    identical to the exact O(n²) scan (unit-normalize in float64, GEMM,
    round).

    Scale accounting: shuffle volume is (n_blocks+1)·|corpus| rows (each
    row participates in n_blocks+1 block pairs); per-task memory is the
    two block slices, ~2·(n/n_blocks)·d·8 bytes. Choose
    n_blocks ≈ n·d·8 / task_budget_bytes: 10⁸ vectors × 128d at 512 MB
    per task → ~400 blocks, ~8·10⁴ GEMM tasks — embarrassingly parallel,
    no driver bottleneck, vs the broadcast kernel's hard 200k-row wall.
    """
    nb = int(n_blocks)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).alias("__blk"),
    )
    # role A: a row of block b is the LEFT side of pairs (b, b2), b2 >= b
    side_a = base.select(
        "__id",
        "__vec",
        F.col("__blk").alias("__b1"),
        F.explode(F.expr(f"sequence(__blk, {nb - 1})")).alias("__b2"),
    )
    # role B: a row of block b is the RIGHT side of pairs (b1, b), b1 <= b.
    # The right side MUST use distinct column names: both sides descend
    # from the same parent plan, and a self-cogroup with identical
    # attribute names mis-prunes the right side down to its grouping keys
    # (observed on pyspark 4.1: right pdf arrived as [__b1, __b2] only).
    side_b = base.select(
        F.col("__id").alias("__rid"),
        F.col("__vec").alias("__rvec"),
        F.explode(F.expr("sequence(0, __blk)")).alias("__b1"),
        F.col("__blk").alias("__b2"),
    )

    def kernel(left, right):
        import numpy as np
        import pandas as pd

        if left.empty or right.empty:
            return pd.DataFrame({"id_1": [], "id_2": [], "cosine_sim": []}).astype(
                {"id_1": "int64", "id_2": "int64", "cosine_sim": "float64"}
            )
        l_ids = left["__id"].to_numpy(dtype="int64")
        r_ids = right["__rid"].to_numpy(dtype="int64")
        lm = np.array(list(left["__vec"]), dtype="float64")
        rm = np.array(list(right["__rvec"]), dtype="float64")
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = np.round(lm @ rm.T, round_to)
        mask = sims >= threshold
        if left["__b1"].iat[0] == left["__b2"].iat[0]:  # diagonal: dedup
            mask &= l_ids[:, None] < r_ids[None, :]
        li, ri = np.nonzero(mask)
        a, b = l_ids[li], r_ids[ri]
        return pd.DataFrame(
            {
                "id_1": np.minimum(a, b),
                "id_2": np.maximum(a, b),
                "cosine_sim": sims[li, ri],
            }
        )

    return (
        side_a.groupBy("__b1", "__b2")
        .cogroup(side_b.groupBy("__b1", "__b2"))
        .applyInPandas(kernel, schema="id_1 long, id_2 long, cosine_sim double")
    )


def exact_knn_block_gemm(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 1,
    quant: int = 1_000_000,
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT k nearest neighbors by quantized squared Euclidean
    distance, as a distributed block-grid GEMM — the fast twin of the
    dim-keyed self-join formulation (which shuffles n²·d joined rows;
    this computes the same integer distances inside numpy at ~100×
    the throughput: measured 214.7s → see relational76 for the
    before/after at sf0.1).

    Coordinates quantize to q = round(x·quant) (BIGINT) JVM-side, so
    every distance is the exact integer Σ(qa−qb)² — the same contract
    as the DuckDB oracles. The GEMM runs in float64, which is exact
    here: every product and partial sum is an integer below 2^53
    (guarded in the kernel; |q| ≤ 4.6e6 keeps 64-dim distances inside
    the window with headroom).

    Ids hash into ``n_blocks`` blocks; every (query-block, target-block)
    pair is one cogroup. The kernel emits each query row's top-k within
    its target block (tie-break (d2, target id)); the caller finishes
    with a PARTITIONED window taking the global top-k of the ≤
    k·n_blocks candidates per query — exact, since blocks partition the
    target set. Self-pairs are excluded.

    Returns (ia, la, ib, lb, d2): query id/label, neighbor id/label,
    exact integer squared distance. Labels cross the Arrow boundary as
    strings (pandas object dtype) but come back cast to the INPUT
    label dtype, so callers see the same label type they fed in —
    consumers compare against the raw table (and its oracle schema).
    Shuffle volume is 2·n_blocks·n rows; per-task memory two block
    slices — size n_blocks so a slice fits an executor, as in
    cosine_dup_pairs_blocked.
    """
    nb, kk = int(n_blocks), int(k)
    lab_type = df.schema[label_col].dataType
    qvec = F.expr(
        f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * {quant}) AS BIGINT))"
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("string").alias("__lab"),
        qvec.alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).alias("__blk"),
    )
    # 0L..nbL-1: the exploded block id MUST be LONG like the pmod side —
    # with sequence(0, 7) (INT) the two sides' cogroup keys have types
    # (long,int) vs (int,long), the keys never compare equal, and every
    # kernel call arrives with one side empty (observed: 102 calls for
    # 64 keys, 74/500 queries losing all their neighbors)
    blocks = F.explode(F.expr(f"sequence(0L, {nb - 1}L)"))
    side_q = base.select(
        "__id",
        "__lab",
        "__vec",
        F.col("__blk").alias("__b1"),
        blocks.alias("__b2"),
    )
    # distinct right-side names: a self-cogroup with identical attribute
    # names mis-prunes the right side (see cosine_dup_pairs_blocked)
    side_t = base.select(
        F.col("__id").alias("__rid"),
        F.col("__lab").alias("__rlab"),
        F.col("__vec").alias("__rvec"),
        blocks.alias("__b1"),
        F.col("__blk").alias("__b2"),
    )

    def kernel(left, right):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"ia": [], "la": [], "ib": [], "lb": [], "d2": []}
        ).astype(
            {"ia": "int64", "la": "object", "ib": "int64", "lb": "object", "d2": "int64"}
        )
        if left.empty or right.empty:
            return empty
        q_ids = left["__id"].to_numpy(dtype="int64")
        t_ids = right["__rid"].to_numpy(dtype="int64")
        qm = np.array(list(left["__vec"]), dtype="float64")
        tm = np.array(list(right["__rvec"]), dtype="float64")
        qmax = max(np.abs(qm).max(), np.abs(tm).max())
        d = qm.shape[1]
        # exactness guard: d * (2*qmax)^2 must stay below 2^53
        if d * (2.0 * qmax) ** 2 >= 2.0**53:
            raise ValueError(
                "quantized coordinates exceed the exact float64-GEMM range; "
                "lower quant or switch this call to an int64 matmul"
            )
        d2 = (
            (qm * qm).sum(axis=1)[:, None]
            + (tm * tm).sum(axis=1)[None, :]
            - 2.0 * (qm @ tm.T)
        )
        d2[q_ids[:, None] == t_ids[None, :]] = np.inf  # self-pairs out
        rows = []
        klim = min(kk, t_ids.shape[0])
        for i in range(q_ids.shape[0]):
            order = np.lexsort((t_ids, d2[i]))[:klim]
            order = order[np.isfinite(d2[i][order])]
            for j in order:
                rows.append((q_ids[i], left["__lab"].iat[i], t_ids[j],
                             right["__rlab"].iat[j], int(d2[i, j])))
        if not rows:
            return empty
        return pd.DataFrame(rows, columns=["ia", "la", "ib", "lb", "d2"])

    cand = (
        side_q.groupBy("__b1", "__b2")
        .cogroup(side_t.groupBy("__b1", "__b2"))
        .applyInPandas(kernel, schema="ia long, la string, ib long, lb string, d2 long")
    )
    w = Window.partitionBy("ia").orderBy("d2", "ib")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= kk)
        .withColumn("la", F.col("la").cast(lab_type))
        .withColumn("lb", F.col("lb").cast(lab_type))
    )


def _hyperplane_value(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient in [-1, 1):
    md5(plane:dim) leading 8 hex digits → uniform u32 → affine map.
    Computed driver-side in Python (md5 is md5; the IEEE double ops are
    bit-identical to the equivalent JVM expression) and emitted as a
    LITERAL — the md5-expression form built 6-node subtrees × planes ×
    dims and dominated plan compile time."""
    import hashlib

    u = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return u / float(2**31) - 1.0


def lsh_sign_bucket_col(
    vec_col: str, n_planes: int, dim: int, table_id: int = 0
) -> Column:
    """Sign-random-projection bucket id as a COLUMN expression: bit p =
    sign of <v, h_p> with md5-derived hyperplane literals. Pure JVM
    expressions — attach with ``withColumn`` so bucketing fuses into the
    scan projection with no join and no shuffle."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = table_id * 1000 + p
        lits = ", ".join(f"{_hyperplane_value(plane, d)!r}D" for d in range(dim))
        dot = F.expr(
            f"aggregate(zip_with({vec_col}, array({lits}), "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
        )
        bucket = bucket + (dot > 0).cast("long") * F.lit(2**p).cast("long")
    return bucket


def _subsplit_blocks(base: DataFrame, block_col: str, max_block_rows: int) -> DataFrame:
    """Attach (``__ns``, ``__sub``) to every row: the number of sub-blocks
    its block was split into (⌈block_count / max_block_rows⌉) and the row's
    secondary-hash sub-block index within [0, __ns).

    The per-block count comes from one aggregation joined back on the
    block key — the same key the downstream cogroup shuffles on, so at
    scale the extra exchange co-partitions with work that must happen
    anyway. Sub-block membership is a pure hash of the id (seeded with a
    distinct literal so it decorrelates from any hash-derived block id),
    so expected sub-block size is ≤ max_block_rows; hash imbalance can
    exceed the cap by small factors but never recreates the one-task-
    holds-the-block degeneracy this exists to prevent."""
    counts = base.groupBy(block_col).agg(F.count(F.lit(1)).alias("__bn"))
    return (
        base.join(counts, block_col)
        .withColumn(
            "__ns",
            F.ceil(F.col("__bn") / F.lit(int(max_block_rows))).cast("int"),
        )
        .withColumn(
            "__sub",
            F.pmod(F.xxhash64(F.lit("subsplit"), F.col("__id")), F.col("__ns")).cast(
                "int"
            ),
        )
        .drop("__bn")
    )


def in_block_pairs_gemm(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int = 6,
    max_block_rows: int = 4096,
) -> DataFrame:
    """All same-block pairs with cosine ≥ threshold: shuffle on the block
    key, then numpy GEMM inside ``applyInPandas`` — replaces the
    self-join + per-pair expression fold (two shuffles and O(pairs) JVM
    lambda evaluations) for in-bucket/in-list scoring.

    Skew hardening: a degenerate corpus (many near-identical or zero
    vectors) can land a large fraction of n in ONE block, which with a
    naive one-task-per-block kernel becomes a single O(m²) task. Blocks
    larger than ``max_block_rows`` are therefore sub-split by a secondary
    id hash into s = ⌈m / max_block_rows⌉ sub-blocks and every unordered
    sub-block pair (s1 ≤ s2) becomes its own cogroup task, GEMM'd
    left×right — the same block-triangle decomposition as
    ``cosine_dup_pairs_blocked``. Every in-block pair lands in exactly
    one task (diagonal tasks dedup with id_1 < id_2; off-diagonal pairs
    appear once because sub-blocks partition the block), so the output
    is identical to the unsplit kernel while per-task memory stays
    ~2·max_block_rows·d·8 bytes and per-task work ~max_block_rows²
    regardless of skew. Pass ``max_block_rows=None`` to restore the
    single-task-per-block fast path (one aggregation cheaper; only safe
    when the block granularity is known bounded, e.g. IVF lists sized by
    n_centroids)."""

    def kernel(left, right):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_1": [], "id_2": [], "cosine_sim": []}).astype(
            {"id_1": "int64", "id_2": "int64", "cosine_sim": "float64"}
        )
        if left.empty or right.empty:
            return empty
        l_ids = left["__lid"].to_numpy(dtype="int64")
        r_ids = right["__rid"].to_numpy(dtype="int64")
        lm = np.array(list(left["__lvec"]), dtype="float64")
        rm = np.array(list(right["__rvec"]), dtype="float64")
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = np.round(lm @ rm.T, round_to)
        mask = sims >= threshold
        if left["__s1"].iat[0] == left["__s2"].iat[0]:  # diagonal: dedup
            mask &= l_ids[:, None] < r_ids[None, :]
        li, ri = np.nonzero(mask)
        a, b = l_ids[li], r_ids[ri]
        return pd.DataFrame(
            {
                "id_1": np.minimum(a, b),
                "id_2": np.maximum(a, b),
                "cosine_sim": sims[li, ri],
            }
        )

    base = df.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("__id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__vec"),
    )
    if max_block_rows is None:
        sized = base.withColumn("__ns", F.lit(1)).withColumn("__sub", F.lit(0))
    else:
        sized = _subsplit_blocks(base, "__blk", max_block_rows)
    # both cogroup sides descend from `sized`
    sized = sized.localCheckpoint(eager=False)  # A/B sf1: 5.90 s with, 7.07 s without
    # role A: a row of sub-block s is the LEFT side of pairs (s, s2), s2 >= s.
    # EVERY column is re-aliased per side (including the block key): both
    # sides descend from the same parent plan, and any attribute passed
    # through raw on both trips the ambiguous-self-join analyzer check,
    # while identical non-key names mis-prune the right side (see
    # cosine_dup_pairs_blocked).
    side_a = sized.select(
        F.col("__blk").alias("__lblk"),
        F.col("__id").alias("__lid"),
        F.col("__vec").alias("__lvec"),
        F.col("__sub").alias("__s1"),
        F.explode(F.expr("sequence(__sub, __ns - 1)")).alias("__s2"),
    )
    # role B: a row of sub-block s is the RIGHT side of pairs (s1, s), s1 <= s
    side_b = sized.select(
        F.col("__blk").alias("__rblk"),
        F.col("__id").alias("__rid"),
        F.col("__vec").alias("__rvec"),
        F.explode(F.expr("sequence(0, __sub)")).alias("__rs1"),
        F.col("__sub").alias("__rs2"),
    )
    return (
        side_a.groupBy("__lblk", "__s1", "__s2")
        .cogroup(side_b.groupBy("__rblk", "__rs1", "__rs2"))
        .applyInPandas(kernel, schema="id_1 long, id_2 long, cosine_sim double")
    )


def lsh_ann_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    threshold: float = 0.8,
    n_tables: int = 1,
) -> DataFrame:
    """ANN near-dup pairs: LSH-bucket then exact cosine inside buckets
    (per-bucket GEMM — one shuffle per table, no self-join).

    Single-table recall for sign-LSH is (1 - θ/π)^n_planes per pair;
    ``n_tables`` independent plane sets union their candidates (standard
    multi-table amplification: recall → 1-(1-r)^T) at T× bucketing cost.
    """
    dim = len(df.select(vec_col).first()[0])  # one probe job, not one per table
    src = df.select(id_col, vec_col)
    out = None
    for t in range(n_tables):
        # bucket as an in-place column: joining the (id, bucket) view
        # back to its own source was a needless self-join per table —
        # the expression fuses into the scan projection instead
        blocked = src.withColumn(
            "bucket", lsh_sign_bucket_col(vec_col, n_planes, dim, table_id=t)
        )
        pairs = in_block_pairs_gemm(blocked, "bucket", id_col, vec_col, threshold, round_to=6)
        out = pairs if out is None else out.unionByName(pairs)
    return out.distinct()


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: spherical k-means coarse quantizer
# ---------------------------------------------------------------------------


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str):
    """(ids int64[n], unit-normalized float64[n,d]) from a DataFrame —
    driver-side helper for structures that are SUPPOSED to be small
    (centroid seeds, query sets)."""
    import numpy as np

    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return ids, mat


def _make_assigner(b_cents, nprobe: int, id_name: str):
    """Factory for the mapInPandas assignment kernel (factory-closure
    pattern: the closure captures only the broadcast handle and plain
    ints/strings, never module-level repo functions — executors don't
    have the repo on sys.path when the driver runs elsewhere)."""

    def assign(batches):
        import numpy as np
        import pandas as pd

        cents = b_cents.value  # (n_centroids, d), unit rows
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_name].to_numpy(dtype="int64")
            q = np.array(list(pdf["__vec"]), dtype="float64")
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ cents.T  # (n, n_centroids)
            # top-nprobe lists per row; argsort on (-sim, list_id) for
            # deterministic tie-breaks
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            n = len(ids)
            yield pd.DataFrame(
                {
                    id_name: np.repeat(ids, nprobe),
                    "list_id": order.reshape(-1).astype("int64"),
                    "rank": np.tile(np.arange(nprobe, dtype="int64"), n),
                }
            )

    return assign


def _make_mean_partialer(b_cents):
    """Factory for the Lloyd-round kernel: assign each vector to its
    nearest centroid AND emit per-batch partial (list_id, n, vsum) rows
    — map-side combine for the mean recompute, so one scan of the
    cached training sample per round with no join/explode/shuffle
    (the partials are n_batches × n_lists rows, reduced driver-side)."""

    def partials(batches):
        import numpy as np
        import pandas as pd

        cents = b_cents.value
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.array(list(pdf["__vec"]), dtype="float64")
            qn = q / np.linalg.norm(q, axis=1, keepdims=True)
            sims = qn @ cents.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, 0]
            lists, inv = np.unique(order, return_inverse=True)
            sums = np.zeros((len(lists), q.shape[1]))
            np.add.at(sums, inv, q)  # means use RAW vectors (spherical k-means)
            counts = np.bincount(inv, minlength=len(lists))
            yield pd.DataFrame(
                {
                    "list_id": lists.astype("int64"),
                    "n": counts.astype("int64"),
                    "vsum": list(sums),
                }
            )

    return partials


def ivf_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iter: int = 5,
    max_train_rows: int = 4096,
):
    """Spherical k-means coarse quantizer, fully deterministic:
    seeds = the unit vectors of the ``n_centroids`` smallest ids; each
    Lloyd round assigns distributed (broadcast centroids + GEMM in
    mapInPandas, ties to the lowest list id) and recomputes means
    distributed (posexplode → groupBy(list, dim) avg), then
    renormalizes on the driver (n_centroids × d doubles — tiny by
    construction; that is what makes it a COARSE quantizer).

    Train-on-sample: a coarse quantizer only needs enough points to
    place ``n_centroids`` means, so when the corpus exceeds
    ``max_train_rows`` the Lloyd loop runs on a deterministic md5-keyed
    hash sample of ~that size (same engine-portable sampling rule as
    the hash_sample query) — the n_iter sequential jobs then scan the
    cached sample, not the full corpus, cutting 100 TB training cost by
    ~corpus/sample per round. The full corpus is only scanned by the
    caller's single assignment pass. Sampling stays reproducible across
    runs, partitionings, and engines because membership is a pure
    function of the id.

    Returns the (n_centroids, d) float64 centroid matrix.
    """
    import numpy as np

    sc = df.sparkSession.sparkContext
    train = df.select(id_col, vec_col)
    n = train.count()
    if n > max_train_rows:
        # md5-prefix threshold at 4 hex digits (~1/65536 granularity)
        thresh = format(max(1, int(65536 * max_train_rows / n)), "04x")
        train = train.filter(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 4) < thresh
        )
    seeds = train.orderBy(id_col).limit(n_centroids)
    _, cents = _collect_matrix(seeds, id_col, vec_col)
    if len(cents) < n_centroids:
        raise ValueError(
            f"training sample has {len(cents)} rows < n_centroids={n_centroids}; "
            "raise max_train_rows"
        )

    # repartition(1) + sortWithinPartitions, NOT coalesce(1): coalesce
    # propagates up the narrow lineage, so it would run the FULL corpus
    # scan + sample filter in one task — a serial 100 TB read. The
    # round-robin shuffle moves only the ≤ max_train_rows sample to a
    # single partition (scan stays parallel), and the id sort makes the
    # float accumulation order a pure function of the sampled IDS (one
    # Arrow batch, one np.add.at pass) rather than of file/shuffle
    # arrival order, which is nondeterministic after repartition. Float
    # addition is non-associative, so without a pinned order the
    # registration-time numpy replay behind ivf_ann_topk's generated
    # oracle (plans/simops._ivf_replay_centroids, which sorts by id the
    # same way) could diverge from the engine's centroids.
    base = (
        train.select(
            F.col(id_col),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__vec"),
        )
        .repartition(1)
        .sortWithinPartitions(id_col)
        .persist()
    )
    try:
        for _ in range(n_iter):
            b = sc.broadcast(cents)
            partials = base.mapInPandas(
                _make_mean_partialer(b), schema="list_id long, n long, vsum array<double>"
            ).collect()
            b.destroy()
            sums = np.zeros_like(cents)
            counts = np.zeros(len(cents), dtype="int64")
            # sort partials so the float reduction order is run-stable
            for r in sorted(partials, key=lambda r: (r["list_id"], tuple(r["vsum"]))):
                sums[r["list_id"]] += np.asarray(r["vsum"])
                counts[r["list_id"]] += r["n"]
            new = cents.copy()  # lists that lost every member keep their seed
            nz = counts > 0
            new[nz] = sums[nz] / counts[nz, None]
            norms = np.linalg.norm(new, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            cents = new / norms
    finally:
        base.unpersist()
    return cents


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    n_centroids: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 4096,
) -> DataFrame:
    """IVF ANN top-k: train the coarse quantizer on the corpus, bucket
    corpus vectors into their nearest inverted list, probe each query's
    ``nprobe`` nearest lists, and run exact cosine only inside probed
    lists. Returns (query_id, neighbor_id, cosine_sim, rnk).

    Scale notes: training scans only the cached md5-hash sample
    (≤ max_train_rows) per Lloyd round; the full corpus is scanned once
    for the final bucketing and shuffled ONCE on list_id; queries fan
    out nprobe rows
    each and meet their lists in a single co-partitioned join —
    candidate count is nprobe/n_centroids of the corpus instead of all
    of it. Recall→1 as nprobe→n_centroids (exact at nprobe=n_centroids,
    pinned by tests/test_similarity.py).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    sc = corpus.sparkSession.sparkContext
    cents = ivf_train(corpus, id_col, vec_col, n_centroids, n_iter, max_train_rows)
    b = sc.broadcast(cents)

    schema_c = StructType(
        [StructField("__cid", LongType()), StructField("list_id", LongType()), StructField("rank", LongType())]
    )
    schema_q = StructType(
        [StructField("__qid", LongType()), StructField("list_id", LongType()), StructField("rank", LongType())]
    )
    c_base = corpus.select(
        F.col(id_col).alias("__cid"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__vec"),
    )
    q_base = queries.select(
        F.col(id_col).alias("__qid"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__vec"),
    )
    c_lists = c_base.mapInPandas(_make_assigner(b, 1, "__cid"), schema=schema_c).select(
        "__cid", "list_id"
    )
    q_probes = q_base.mapInPandas(_make_assigner(b, nprobe, "__qid"), schema=schema_q).select(
        "__qid", "list_id"
    )

    c_side = c_base.join(c_lists, "__cid").withColumnRenamed("__vec", "__cvec")
    q_side = q_base.join(q_probes, "__qid").withColumnRenamed("__vec", "__qvec")
    cand = q_side.join(c_side, "list_id").where(F.col("__qid") != F.col("__cid"))
    scored = cand.select(
        F.col("__qid").alias("query_id"),
        F.col("__cid").alias("neighbor_id"),
        F.round(cosine("__qvec", "__cvec"), 6).alias("cosine_sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
