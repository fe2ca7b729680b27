"""Semantics tests for the round-5 second batch: degree-oriented
triangle enumeration, Morton interleaving, the clamped-balance fold,
and the snapshot-diff classification (oracle-parity hashes for the
registered queries live in test_oracle_parity)."""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F

from grocery_store_sales_forecasting_etl_pipeline_spark.functions.layout import (
    _SPREAD_STEPS,
    morton_sql,
)
from grocery_store_sales_forecasting_etl_pipeline_spark.operators.graph import triangles


def morton_py(x: int, y: int) -> int:
    """Pure-Python Morton reference — same masks, same steps as
    ``morton_sql``."""

    def spread(v: int) -> int:
        v &= 65535
        for n, mask in _SPREAD_STEPS:
            v = (v | (v << n)) & mask
        return v

    return spread(x) | (spread(y) << 1)


def _tris(spark, edges):
    df = spark.createDataFrame(edges, ["u", "v"])
    return sorted(tuple(r) for r in triangles(df).collect())


def _brute_tris(edges):
    adj = set()
    nodes = set()
    for u, v in edges:
        if u == v:
            continue
        adj.add((min(u, v), max(u, v)))
        nodes.update((u, v))
    out = []
    for x, y, z in itertools.combinations(sorted(nodes), 3):
        if (x, y) in adj and (x, z) in adj and (y, z) in adj:
            out.append((x, y, z))
    return sorted(out)


def test_triangles_matches_brute_force_on_mixed_graph(spark):
    # K4 sharing a vertex with a 5-cycle plus a pendant and noise edges
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"),                                   # K4: 4 triangles
        ("d", "e"), ("e", "f"), ("f", "g"), ("g", "h"), ("h", "d"),
        ("x", "y"),                                   # isolated edge
    ]
    assert _tris(spark, edges) == _brute_tris(edges)


def test_triangles_each_counted_once_despite_duplicates(spark):
    base = [("1", "2"), ("2", "3"), ("1", "3")]
    noisy = base + [(v, u) for u, v in base] + base + [("1", "1")]
    assert _tris(spark, noisy) == [("1", "2", "3")]


def test_triangles_hub_graph(spark):
    # hub h in triangles with (a,b) and (c,d); (a,c) is NOT an edge
    edges = [("h", x) for x in "abcd"] + [("a", "b"), ("c", "d")]
    assert _tris(spark, edges) == [("a", "b", "h"), ("c", "d", "h")]


def test_morton_py_reference_values():
    assert morton_py(0, 0) == 0
    assert morton_py(1, 0) == 1
    assert morton_py(0, 1) == 2
    assert morton_py(3, 5) == 0b100111          # y=101, x=011 interleaved
    assert morton_py(65535, 0) == 0x55555555
    assert morton_py(0, 65535) == 0xAAAAAAAA
    assert morton_py(65536, 0) == 0             # only low 16 bits used


def test_morton_spark_and_duckdb_match_python(spark):
    import duckdb

    pts = [(0, 0), (1, 0), (0, 1), (3, 5), (123, 456), (65535, 65535),
           (40000, 17), (65536 + 7, 2)]
    df = spark.createDataFrame(pts, ["x", "y"]).select(
        "x", "y", F.expr(morton_sql("x", "y", "spark")).alias("z")
    )
    got = {(r.x, r.y): r.z for r in df.collect()}
    con = duckdb.connect()
    for x, y in pts:
        expect = morton_py(x, y)
        assert got[(x, y)] == expect
        dd = con.execute(
            f"SELECT {morton_sql(str(x), str(y), 'duckdb')}"
        ).fetchone()[0]
        assert dd == expect


def test_clamped_balance_fold_semantics(spark):
    # deltas per month for one entity: balance clamps at 0, peak tracks max
    rows = [("s", "2024-01", 5), ("s", "2024-02", -9),
            ("s", "2024-03", 7), ("s", "2024-04", -3)]
    df = spark.createDataFrame(rows, ["suppkey", "mo", "delta"]).select(
        "suppkey", "mo", F.col("delta").cast("long").alias("delta")
    )
    s = df.groupBy("suppkey").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("mo", "delta"))),
            lambda r: r["delta"],
        ).alias("ds")
    )
    zero = F.lit(0).cast("long")

    def step(acc, x):
        nb = F.greatest(zero, acc[0] + x)
        return F.array(nb, F.greatest(acc[1], nb))

    st = F.aggregate("ds", F.array(zero, zero), step)
    row = s.select(st[0].alias("fin"), st[1].alias("peak")).collect()[0]
    # python reference: 0 ->5 ->0(clamp) ->7 ->4 ; peak 7
    bal = peak = 0
    for d in (5, -9, 7, -3):
        bal = max(0, bal + d)
        peak = max(peak, bal)
    assert (row.fin, row.peak) == (bal, peak) == (4, 7)


def test_activity_diff_classifies_all_four_kinds(spark, sf_oracle):
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational11 import (
        customer_activity_diff,
    )

    rows = customer_activity_diff(spark, sf_oracle).collect()
    kinds = {r.change_type for r in rows}
    assert {"added", "removed", "changed"} <= kinds
    for r in rows:
        assert r.old_orders > 0 or r.new_orders > 0
        if r.change_type == "added":
            assert r.old_orders == 0 and r.old_cents == 0
        if r.change_type == "removed":
            assert r.new_orders == 0 and r.new_cents == 0
        if r.change_type == "stable":
            assert (r.old_orders, r.old_cents) == (r.new_orders, r.new_cents)


def test_zorder_buckets_bound_both_dimensions(spark, sf_oracle):
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational11 import (
        zorder_layout_audit,
    )

    rows = zorder_layout_audit(spark, sf_oracle).collect()
    assert rows and sum(r.n_rows for r in rows) == 60000
    # range-normalized z-bucketing must narrow BOTH dimensions: every
    # bucket's box is a strict subset of the global span (the pruning
    # property a raw interleave fails for the narrow suppkey dimension)
    pk_glo = min(r.pk_lo for r in rows)
    pk_ghi = max(r.pk_hi for r in rows)
    sk_glo = min(r.sk_lo for r in rows)
    sk_ghi = max(r.sk_hi for r in rows)
    assert all((r.pk_hi - r.pk_lo) < (pk_ghi - pk_glo) for r in rows)
    assert all((r.sk_hi - r.sk_lo) < (sk_ghi - sk_glo) for r in rows)


def test_grouped_value_cum_counts_matches_window(spark):
    """The bucketed two-pass grouped cumulative must equal the direct
    per-group window cumulative on a frame with duplicate values, ties
    across groups, negatives, and a value span crossing bucket edges."""
    import random

    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.scalerank import (
        grouped_value_cum_counts,
    )

    rng = random.Random(11)
    rows = [
        (g, rng.choice([-130, -7, 0, 3, 64, 65, 128, 900, 901]))
        for g in ("a", "b", "c")
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        (r.g, r.v): (r.c, r.cum)
        for r in grouped_value_cum_counts(df, ["g"], "v", 64).collect()
    }
    # brute force per group
    from collections import Counter

    for g in ("a", "b", "c"):
        vals = sorted(v for gg, v in rows if gg == g)
        cnt = Counter(vals)
        cum = 0
        for v in sorted(cnt):
            cum += cnt[v]
            assert got[(g, v)] == (cnt[v], cum), (g, v)
    assert len(got) == sum(
        1 for g in ("a", "b", "c") for _ in {v for gg, v in rows if gg == g}
    )


def test_quantile_bracket_audit_shapes_agree(spark, sf_oracle):
    """The size gate swaps plan shapes, never answers: the per-flag
    sort shape and the histogram rank-selection shape must return
    identical rows at any scale (here sf0.01 forced both ways)."""
    import grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational11 as r11

    saved = r11._QUANTILE_HISTO_MIN_INPUT_BYTES
    try:
        r11._QUANTILE_HISTO_MIN_INPUT_BYTES = 1 << 60
        sort_rows = sorted(
            map(tuple, r11.quantile_bracket_audit(spark, sf_oracle).collect())
        )
        r11._QUANTILE_HISTO_MIN_INPUT_BYTES = 0
        histo_rows = sorted(
            map(tuple, r11.quantile_bracket_audit(spark, sf_oracle).collect())
        )
    finally:
        r11._QUANTILE_HISTO_MIN_INPUT_BYTES = saved
    assert sort_rows == histo_rows and len(sort_rows) == 3
