"""Dedup operator semantics beyond oracle parity: the hot-shingle
document-frequency cap in ``jaccard_pairs`` (recall at threshold) and
the conditional repartition in ``_shingle_rows``."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark.operators import dedup as dd


def _docs(spark, sf_oracle):
    return spark.read.parquet(f"{sf_oracle}/documents.parquet")


def _pairs(df, max_df=None, threshold=0.08):
    out = dd.jaccard_pairs(
        df,
        id_col="doc_id",
        text_col="text",
        k=2,
        threshold=threshold,
        block_cols=("source",),
        max_df=max_df,
    )
    return {(r.id_1, r.id_2): r.jaccard for r in out.collect()}


def test_max_df_above_corpus_max_is_identity(spark, sf_oracle):
    """A cap no shingle reaches must not change the result at all (the
    registered doc_ngram_jaccard relies on this at sf0.01, where max
    per-source df is 8 < 25)."""
    df = _docs(spark, sf_oracle)
    assert _pairs(df, max_df=None) == _pairs(df, max_df=10**6)


def test_binding_max_df_keeps_high_similarity_pairs(spark, sf_oracle):
    """Stop-shingle removal only perturbs borderline pairs: with a cap
    that actually binds (5 < corpus max df 8), every pair whose UNCAPPED
    jaccard is well above threshold must survive — near-dups share many
    rare shingles, so dropping hot ones cannot break them."""
    df = _docs(spark, sf_oracle)
    uncapped = _pairs(df, max_df=None)
    capped = _pairs(df, max_df=5)
    high_sim = {k for k, j in uncapped.items() if j >= 0.3}
    assert high_sim, "corpus lost its planted near-dups — regenerate testdata?"
    missing = high_sim - set(capped)
    assert not missing, f"df cap dropped high-similarity pairs: {missing}"


def test_binding_max_df_shrinks_join_input(spark, sf_oracle):
    """The cap must actually remove hot-shingle rows before the
    self-join (the Σ df² bound is the whole point)."""
    df = _docs(spark, sf_oracle)
    sh = dd._shingle_rows(df, "doc_id", "text", 2, ("source",)).withColumn(
        "shingle", F.xxhash64("shingle")
    )
    total = sh.count()
    capped = (
        sh.groupBy("source", "shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= 5)
        .agg(F.sum("df"))
        .collect()[0][0]
    )
    assert capped < total


def test_shingle_rows_skips_repartition_when_wide_enough(spark, sf_oracle):
    """An input that already has >= defaultParallelism splits must not be
    reshuffled (at 100 TB that repartition is a full shuffle of all
    document text for nothing)."""
    parallelism = spark.sparkContext.defaultParallelism
    marker = f"Repartition {parallelism}, true"  # the node _shingle_rows adds
    df = _docs(spark, sf_oracle)
    wide = df.repartition(parallelism + 4)
    out = dd._shingle_rows(wide, "doc_id", "text", 2, ())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert marker not in plan, plan
    narrow = df.coalesce(1)
    out2 = dd._shingle_rows(narrow, "doc_id", "text", 2, ())
    plan2 = out2._jdf.queryExecution().optimizedPlan().toString()
    assert marker in plan2, plan2


@pytest.mark.parametrize("name", ["documents", "lineitem", "orders"])
def test_plan_bytes_of_bare_scan_equal_on_disk_bytes(spark, sf_oracle, name):
    """The size thresholds were calibrated in on-disk bytes; the plan
    estimate of a bare scan must be exactly those bytes."""
    import os

    path = f"{sf_oracle}/{name}.parquet"
    measured = dd._plan_bytes(spark.read.parquet(path))
    # the driver's tables are single parquet FILES; probe dirs are
    # directories of part files — handle both
    if os.path.isfile(path):
        actual = os.path.getsize(path)
    else:
        actual = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
            if not f.startswith((".", "_"))
        )
    assert measured == actual


def test_shingle_materialization_gate_and_equivalence(spark, sf_oracle):
    """The adaptive shingle checkpoint must (a) stay OFF at small input
    (the measured sf1 crossover: recompute wins below ~32 MB) and (b)
    be a pure execution-strategy choice — both variants bit-identical."""
    df = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    assert dd._plan_bytes(df) < dd._SHINGLE_MATERIALIZE_MIN_INPUT_BYTES

    kw = dict(id_col="doc_id", text_col="text", k=2, threshold=0.08, max_df=25)
    base = sorted(
        map(tuple, dd.jaccard_pairs(df, materialize_shingles=False, **kw).collect())
    )
    ck = sorted(
        map(tuple, dd.jaccard_pairs(df, materialize_shingles=True, **kw).collect())
    )
    assert base == ck and len(base) > 0


# ---------------------------------------------------------------------------
# 64-bit SimHash (staged post-freeze replacement — VERDICT r10 #3)
# ---------------------------------------------------------------------------

_U64 = 2**64


def _signed(v: int) -> int:
    """Python int (0..2^64) → signed-long two's complement value."""
    v &= _U64 - 1
    return v - _U64 if v >= 2**63 else v


def _hamming64(a: int, b: int) -> int:
    return ((a ^ b) & (_U64 - 1)).bit_count()


def test_simhash64_radius3_completeness_adversarial(spark):
    """Pigeonhole exactness of the 4×16-bit banding at radius 3 on
    fingerprints CONSTRUCTED to stress it: flipped bits spread across
    three different bands (only one band left agreeing), bits at band
    boundaries (15/16, 47/48), the sign bit (bit 63 — two's complement
    top), and hamming-4 pairs spread over all four bands (correctly
    excluded). Ground truth is a brute-force all-pairs scan."""
    import itertools

    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.dedup import (
        simhash_candidate_pairs,
    )

    base = 0x1234_5678_9ABC_DEF0
    base2 = 0xFEDC_BA98_7654_3210
    fps = {
        1: base,
        2: base ^ (1 << 5) ^ (1 << 20) ^ (1 << 40),   # bands 0,1,2 → band 3 agrees
        3: base ^ (1 << 17) ^ (1 << 33) ^ (1 << 63),  # bands 1,2,3 + sign bit → band 0 agrees
        4: base ^ (1 << 0) ^ (1 << 1) ^ (1 << 2),     # all 3 flips in band 0
        5: base ^ (1 << 15) ^ (1 << 16),              # band boundary 15/16, hamming 2
        6: base ^ (1 << 47) ^ (1 << 48) ^ (1 << 63),  # boundary 47/48 + sign
        7: base ^ (1 << 3) ^ (1 << 19) ^ (1 << 35) ^ (1 << 51),  # h=4, all 4 bands differ → OUT
        8: base2,                                     # far from base (no pair)
        9: base2 ^ (1 << 62) ^ (1 << 63),             # h=2 to base2, top band only
        10: base,                                     # exact dup of 1 (h=0)
    }
    rows = [(i, _signed(v)) for i, v in fps.items()]
    sim = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_1, r.id_2): r.hamming
        for r in simhash_candidate_pairs(
            sim, "doc_id", "simhash", n_bands=4, band_bits=16, radius=3
        ).collect()
    }
    want = {
        (i, j): _hamming64(fps[i], fps[j])
        for i, j in itertools.combinations(sorted(fps), 2)
        if _hamming64(fps[i], fps[j]) <= 3
    }
    assert got == want
    # the adversarial exclusions actually exercised what they claim
    assert (1, 7) not in got and _hamming64(fps[1], fps[7]) == 4
    assert {(1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (1, 10), (8, 9)} <= set(want)


def test_simhash64_top32_bits_match_simhash32(spark, sf_oracle):
    """Bit-source convention pinned: simhash64's bits 63..32 (value
    weights 2^63..2^32) come from the SAME md5 nibbles as simhash32's
    bits 31..0, so the arithmetic-shifted top half must reproduce the
    32-bit fingerprint exactly — the 64-bit variant strictly extends,
    never re-derives, the adjudicated hash."""
    docs = _docs(spark, sf_oracle).limit(200)
    h32 = {r.doc_id: r.simhash for r in dd.simhash32(docs, "doc_id", "text").collect()}
    h64 = {r.doc_id: r.simhash for r in dd.simhash64(docs, "doc_id", "text").collect()}
    assert set(h32) == set(h64) and len(h32) == 200
    for d, v in h64.items():
        assert ((v >> 32) & 0xFFFFFFFF) == h32[d], d


def test_simhash64_candidates_match_duckdb_oracle(spark, sf_oracle):
    """Parity of the STAGED post-freeze surface (builder + oracle SQL
    pair in plans/textops.py) so the one-line registry flip lands
    pre-verified: Spark simhash64 → 4×16-band candidates vs the DuckDB
    twin, pandas-path compare (driver-observable)."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans import textops as tx
    from tests.oracle_utils import compare

    df = tx.simhash64_candidates(spark, sf_oracle)
    compare(df, tx._simhash64_candidates_sql(), sf_oracle, name="simhash64_candidates")
    # and the fingerprint values themselves (sign bit included)
    sim = dd.simhash64(_docs(spark, sf_oracle), "doc_id", "text")
    compare(sim, tx._simhash64_sql(), sf_oracle, name="doc_simhash64")
    assert sim.filter(F.col("simhash") < 0).count() > 0  # top bit exercised


def test_banded_bucket_cap_recall_contract(spark):
    """max_bucket drops ONLY pairs all of whose agreeing bands sit in
    oversized buckets: a pair sharing one oversized band value + one
    in-cap band value survives; a pair found solely through the
    oversized bucket is excluded; default None stays exact."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.dedup import (
        simhash_candidate_pairs,
    )

    # band layout: 4 bands x 16 bits. band0 = bits 0..15, band1 = 16..31.
    B0 = 0x00000000_0000AAAA          # shared band-0 value for the crowd
    crowd = [(i, _signed(B0 | (i << 16))) for i in range(100, 120)]  # 20 docs,
    # distinct bands 1-3 → they pair with each other ONLY via band 0
    # pair (1,2): band0 shared with the crowd (oversized), band1 ALSO equal
    # (small bucket), hamming 1 (bit 40 differs — band 2)
    p1 = B0 | (0x7_0007 << 16)
    p2 = p1 ^ (1 << 40)
    rows = crowd + [(1, _signed(p1)), (2, _signed(p2))]
    sim = spark.createDataFrame(rows, "doc_id long, simhash long")

    uncapped = {
        (r.id_1, r.id_2)
        for r in simhash_candidate_pairs(
            sim, "doc_id", "simhash", n_bands=4, band_bits=16, radius=3
        ).collect()
    }
    capped = {
        (r.id_1, r.id_2)
        for r in simhash_candidate_pairs(
            sim, "doc_id", "simhash", n_bands=4, band_bits=16, radius=3, max_bucket=5
        ).collect()
    }
    # (1,2) agree on band 0 (oversized: 22 members) AND band 1 (bucket of
    # 2) — the in-cap band keeps them
    assert (1, 2) in capped
    # crowd pairs exist only through the oversized band-0 bucket...
    crowd_pairs_capped = {p for p in capped if p[0] >= 100}
    assert crowd_pairs_capped == set()
    # ...but hamming<=3 crowd neighbors DO exist uncapped (adjacent ids
    # differ in few band-1 bits), proving the cap did the dropping
    assert any(p[0] >= 100 for p in uncapped)
    assert capped <= uncapped


def test_lsh_candidate_pairs_bucket_cap(spark):
    """The max_bucket cap plumbs through the MinHash banded join the
    same way as the SimHash one: a signature crowd sharing one band
    bucket loses its crowd-only pairs at cap, while pairs agreeing on a
    small bucket survive; default None stays exact."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    # 8 minhashes -> 4 bands of 2. The crowd shares band 0 (mh_0, mh_1)
    # but is distinct elsewhere; docs 1 and 2 share band 0 AND band 1.
    def sig(i, mh0, mh1, mh2, mh3):
        return (i, mh0, mh1, mh2, mh3, f"u{i}", f"v{i}", f"w{i}", f"x{i}")

    rows = [sig(i, "a", "b", f"c{i}", f"d{i}") for i in range(100, 120)]
    rows += [sig(1, "a", "b", "SAME", "SAME"), sig(2, "a", "b", "SAME", "SAME")]
    sigs = spark.createDataFrame(
        rows, "doc_id long, mh_0 string, mh_1 string, mh_2 string, mh_3 string,"
        " mh_4 string, mh_5 string, mh_6 string, mh_7 string"
    )
    uncapped = {
        (r.id_1, r.id_2)
        for r in lsh_candidate_pairs(sigs, "doc_id", n_hashes=8, band_size=2).collect()
    }
    capped = {
        (r.id_1, r.id_2)
        for r in lsh_candidate_pairs(
            sigs, "doc_id", n_hashes=8, band_size=2, max_bucket=5
        ).collect()
    }
    assert (1, 2) in uncapped and (1, 2) in capped  # band-1 bucket is small
    assert (100, 101) in uncapped and (100, 101) not in capped  # crowd-only
    assert capped < uncapped
