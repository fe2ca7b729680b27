"""Property tests for the r4 text additions: winnowing fingerprints
(containment guarantee + density), the deterministic hash split
(stability under append), and edit-distance verification bounds.
Oracle equivalence for all three is covered by test_oracle_parity."""

from __future__ import annotations

import pyspark.sql.functions as F

from grocery_store_sales_forecasting_etl_pipeline_spark.functions import text as T
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.textops import (
    _WINNOW_K,
    _WINNOW_W,
    dataset_split,
    doc_winnow_fingerprints,
    near_dup_verify,
)


def _fingerprints(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    grams = df.select("doc_id", T.tokens("text").alias("tk")).select(
        "doc_id",
        F.transform(T.ngrams_from_tokens(F.col("tk"), _WINNOW_K), F.md5).alias("gh"),
    )
    rows = grams.select(
        "doc_id", T.winnow_select(F.col("gh"), _WINNOW_W).alias("sel")
    ).collect()
    return {r["doc_id"]: set(r["sel"]) for r in rows}


def test_winnow_containment_guarantee(spark):
    """The winnowing theorem: two docs sharing a run of >= w + k - 1
    tokens must share at least one selected fingerprint."""
    shared = " ".join(f"s{i}" for i in range(_WINNOW_W + _WINNOW_K - 1))
    a = "alpha beta gamma delta " + shared + " omega"
    b = "uno dos " + shared + " tres cuatro cinco"
    fps = _fingerprints(spark, [a, b])
    assert fps[0] & fps[1], "shared 11-token run must share a fingerprint"


def test_winnow_density_and_minimality(spark):
    """Selected set is a subset of the doc's gram hashes and no larger
    than the window count (one pick per window)."""
    text = " ".join(f"w{i % 7}x{i % 13}" for i in range(200))
    df = spark.createDataFrame([(0, text)], "doc_id int, text string")
    row = (
        df.select(T.tokens("text").alias("tk"))
        .select(
            F.transform(T.ngrams_from_tokens(F.col("tk"), _WINNOW_K), F.md5).alias("gh")
        )
        .select(
            F.col("gh"),
            T.winnow_select(F.col("gh"), _WINNOW_W).alias("sel"),
        )
        .first()
    )
    assert set(row["sel"]) <= set(row["gh"])
    n_windows = len(row["gh"]) - _WINNOW_W + 1
    assert len(row["sel"]) == n_windows
    # winnowing selects far fewer DISTINCT fingerprints than windows
    assert len(set(row["sel"])) <= 2 * n_windows // (_WINNOW_W + 1) + _WINNOW_W


def test_winnow_short_doc_empty(spark):
    fps = _fingerprints(spark, ["only four tokens here"])
    assert fps[0] == set()


def test_query_shapes(spark, sf_oracle):
    fp = doc_winnow_fingerprints(spark, sf_oracle)
    assert fp.columns == ["doc_id", "fp", "n_windows"]
    assert fp.filter(F.col("fp").isNull()).count() == 0

    ndv = near_dup_verify(spark, sf_oracle).collect()
    assert ndv, "sf0.01 corpus has near-dup pairs"
    for r in ndv:
        assert 0.0 <= r["nld"] <= 1.0
        assert r["lev"] >= 0


def test_dataset_split_stable_under_append(spark, sf_oracle):
    """Hash membership is a pure function of doc_id: recomputing the
    split over a corpus PREFIX assigns every doc identically to the
    full-corpus run — the append-stability property random splits
    lack."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.textops import (
        _SPLIT_TRAIN_HI,
        _SPLIT_VAL_HI,
    )

    d = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h < _SPLIT_TRAIN_HI, "train")
        .when(h < _SPLIT_VAL_HI, "val")
        .otherwise("test")
    )
    full = {r["doc_id"]: r["s"] for r in d.select("doc_id", split.alias("s")).collect()}
    half = {
        r["doc_id"]: r["s"]
        for r in d.filter(F.col("doc_id") < 250)
        .select("doc_id", split.alias("s"))
        .collect()
    }
    assert half == {k: v for k, v in full.items() if k < 250}
    # fractions near 80/10/10 (loose: 500 docs)
    n = len(full)
    train = sum(1 for v in full.values() if v == "train") / n
    assert 0.70 < train < 0.90
    agg = dataset_split(spark, sf_oracle)
    assert agg.columns == ["source", "split", "n_docs", "n_tokens"]
    assert agg.agg(F.sum("n_docs")).first()[0] == n


def test_winnow_containment_fuzz(spark):
    """Seeded fuzz of the winnowing guarantee: 20 random doc pairs, each
    sharing one random >= (w+k-1)-token run at random positions inside
    otherwise-disjoint token streams, batched through ONE Spark job —
    every pair must share a fingerprint; disjoint controls must not."""
    import random

    rng = random.Random(42)
    t = _WINNOW_W + _WINNOW_K - 1
    texts = []
    for p in range(20):
        shared = [f"p{p}s{i}" for i in range(t + rng.randrange(0, 6))]
        left = [f"p{p}a{i}" for i in range(rng.randrange(0, 30))]
        right = [f"p{p}b{i}" for i in range(rng.randrange(0, 30))]
        texts.append(" ".join(left + shared + [f"p{p}at{i}" for i in range(rng.randrange(0, 30))]))
        texts.append(" ".join(right + shared + [f"p{p}bt{i}" for i in range(rng.randrange(0, 30))]))
    fps = _fingerprints(spark, texts)
    for p in range(20):
        a, b = fps[2 * p], fps[2 * p + 1]
        assert a & b, f"pair {p} shares a {t}+-token run but no fingerprint"
    # control: docs from different pairs share no tokens → no fingerprints
    assert not (fps[0] & fps[3])


def test_edit_distance_verify_capped_and_fallback(spark, sf_oracle):
    """The capped lev_threshold variant agrees with the unbounded one
    below the cap (and returns -1/-1 above it); a shuffle join of the
    pair side (broadcast threshold -1 forces it) produces identical rows
    to the broadcast path."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.textops import (
        doc_ngram_jaccard,
        edit_distance_verify,
    )

    pairs = doc_ngram_jaccard(spark, sf_oracle)
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    base = {
        (r["id_1"], r["id_2"]): (r["lev"], r["nld"])
        for r in edit_distance_verify(pairs, docs).collect()
    }
    assert base

    cap = 50
    capped = {
        (r["id_1"], r["id_2"]): (r["lev"], r["nld"])
        for r in edit_distance_verify(pairs, docs, lev_threshold=cap).collect()
    }
    assert set(capped) == set(base)
    for k, (lev, nld) in base.items():
        if lev <= cap:
            assert capped[k] == (lev, nld)
        else:
            assert capped[k] == (-1, -1.0)

    # force a shuffle join: no side is small enough to broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = {
            (r["id_1"], r["id_2"]): (r["lev"], r["nld"])
            for r in edit_distance_verify(pairs, docs).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert shuffled == base


def test_edit_distance_verify_null_text_parity(spark):
    """Oracle parity on nullable text: a pair whose doc EXISTS but has
    NULL text survives with NULL lev/nld (inner-join semantics); a pair
    referencing an ABSENT doc_id drops entirely."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.textops import (
        edit_distance_verify,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.5), (1, 3, 0.7), (1, 99, 0.9)],
        "id_1 long, id_2 long, jaccard double",
    )
    rows = {
        (r["id_1"], r["id_2"]): (r["lev"], r["nld"])
        for r in edit_distance_verify(pairs, docs).collect()
    }
    assert set(rows) == {(1, 2), (1, 3)}          # (1,99) dropped: doc absent
    assert rows[(1, 2)] == (None, None)            # NULL text propagates
    assert rows[(1, 3)] == (6, 0.375)              # " gamma" appended = 6 edits
