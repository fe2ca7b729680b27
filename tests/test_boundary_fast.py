"""Fast-tier guards for the driver-boundary numeric quantization.

The r8 post-mortem (VERDICT.md): the driver canonicalizes BOTH engines
through pandas, where representations diverge by SQL type — duckdb
``.df()`` degrades DECIMAL/HUGEINT to float64 while Spark ``toPandas()``
yields ``decimal.Decimal``/int64 — so the full oracle-parity suite
(slow tier) passing via ``fetchall()`` proved nothing about the driver's
observable path. These two tests run in the fast gate and fail on any
reintroduction of a representation skew:

1. bit-parity of the quantization itself on adversarial values
   (half-ties, ±0.0, the 2^53/10^6 magnitude boundary, ±2^53, NaN/Inf,
   NULL, BIGINT overflow range) through the REAL pandas paths of both
   engines;
2. pandas-path parity on a representative query per output-type class
   (DOUBLE, BIGINT, VARCHAR, DATE, TIMESTAMP, INTEGER, HUGEINT,
   DECIMAL(38,0), internal Spark DecimalType) plus one limit-rooted
   top-k, whose boundary projects on a single partition.
"""

from __future__ import annotations

import math
import random
import struct

import duckdb
import pandas as pd
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark import plans
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import (
    apply_decimal_boundary,
    wrap_oracle_decimal,
)
from tests.oracle_utils import compare

# one query per pandas-representation class that has EVER diverged in a
# driver round (duckdb DESCRIBE types in comments); parity for the rest
# of the registry — including the never-diverged pure
# VARCHAR/DATE/TIMESTAMP/BIGINT classes (date_funcs, keyed_dedup,
# table_profile, weekly_lag_features held those seats until r10's fast
# gate budget trim) — is the slow tier's test_oracle_parity +
# tools/verify_contract.py
REPRESENTATIVES = [
    "pricing_summary",  # DOUBLE aggregates (r6 ULP-drift class) + VARCHAR
    "daily_revenue_cusum",  # DATE + HUGEINT (sum of BIGINT) + INTEGER flags
    "conformal_coverage_audit",  # HUGEINT quantile + BIGINT counts
    "embedding_participation_ratio",  # DECIMAL(38,0) exact trace
    "ship_delay_ks_test",  # internal Spark DecimalType (d_star pattern)
    "topk_orders",  # orderBy().limit(25): the boundary's coalesce(1) branch
]


def test_quantization_bit_parity_adversarial(spark):
    """Spark and duckdb quantization must be BIT-IDENTICAL float64
    through toPandas()/.df() on values chosen to break it. This pins the
    one Spark rendering (apply_decimal_boundary's selectExpr) against
    the DuckDB mirror (wrap_oracle_decimal)."""
    vals = [
        0.0, -0.0, 1e-7, -1e-7, 1.5e-6, -1.5e-6, 2.5e-6, 0.1234565,
        0.12345649999999999, 5.0, 5.000001, -5.0, 123456789.123456499,
        1443283136200801.5,  # the observed r8 DECIMAL-cast divergence value
        9.2e17, 1.1e18, float("nan"), float("inf"), -float("inf"),
        0.30000000000000004, 1 / 3, -1 / 3, 2 / 3, 1e9 - 0.5, 1e9 + 0.3,
        123.4999995, -123.4999995, 0.9999995, -0.9999995,
        2.0**53, -(2.0**53), None,
    ]
    rng = random.Random(7)
    vals += [rng.uniform(-1e6, 1e6) for _ in range(100)]
    vals += [rng.uniform(-1, 1) * 10 ** rng.randint(-8, 17) for _ in range(100)]

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    )
    spdf = apply_decimal_boundary(df, ["x"]).toPandas().sort_values("i")

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(vals)), "x": vals}))
    opdf = con.execute(wrap_oracle_decimal("SELECT i, x FROM t", ["x"])).df()
    opdf = opdf.sort_values("i")

    assert str(spdf["x"].dtype) == "float64"
    assert str(opdf["x"].dtype) == "float64"
    bad = []
    for i, (s, o) in enumerate(zip(spdf["x"].tolist(), opdf["x"].tolist())):
        s_null = s is None or (isinstance(s, float) and math.isnan(s))
        o_null = o is None or (isinstance(o, float) and math.isnan(o))
        if s_null and o_null:
            continue
        if s_null != o_null or struct.pack("<d", s) != struct.pack("<d", o):
            bad.append((i, vals[i], s, o))
    assert not bad, f"bit divergence on {len(bad)} values: {bad[:5]}"


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_representative_pandas_path_parity(spark, sf_oracle, name):
    df = plans.wrapped_build(name)(spark, sf_oracle)
    compare(df, plans.wrapped_oracle(name), sf_oracle, name=name)


@pytest.mark.parametrize("name", ["forecast_weekly_gbt", "forecast_per_group"])
def test_rows_only_gbt_shape_pinned(spark, sf_smoke, name):
    """The two rows-only queries (the driver checks shape only — no
    oracle) must keep a frozen output contract: exact column names and
    Spark types, one prediction row per feature row, no NULL
    predictions. Pins the shipped shape against an MLlib version bump
    silently changing it (VERDICT r9 task #5). Runs at sf0.001 so the
    GBT train stays in the fast-gate budget."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational import (
        weekly_lag_features,
    )

    out = plans.REGISTRY[name].build(spark, sf_smoke)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("suppkey", "bigint"),
        ("year", "bigint"),
        ("week", "bigint"),
        ("actual_qty", "double"),
        ("predicted_qty", "double"),
    ]
    n_features = weekly_lag_features(spark, sf_smoke).count()
    rows = out.count()
    assert rows == n_features > 0
    assert out.filter("predicted_qty IS NULL").count() == 0


def test_manifest_not_stale(sf_smoke):
    """The committed _decimal_boundary.json must equal what the generator
    computes against the CURRENT registry and testdata. Catches both
    forgetting to regenerate after adding/altering oracles AND the driver
    regenerating /root/testdata with drifted column types (the r3 events
    ts incident) — either way an at-risk column would ship unquantized."""
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo / "tools"))
    from gen_decimal_manifest import build_manifest

    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import (
        DECIMAL_BOUNDARY,
    )
    from tests.oracle_utils import duckdb_con

    con = duckdb_con(sf_smoke)
    try:
        fresh, errors, decisions = build_manifest(con)
    finally:
        con.close()
    assert not errors, f"oracle DESCRIBE errors: {errors}"
    assert fresh == DECIMAL_BOUNDARY, (
        "stale boundary manifest — rerun `python tools/gen_decimal_manifest.py`; "
        f"added={sorted(set(fresh) - set(DECIMAL_BOUNDARY))[:5]} "
        f"removed={sorted(set(DECIMAL_BOUNDARY) - set(fresh))[:5]} "
        f"changed={[k for k in fresh if DECIMAL_BOUNDARY.get(k) not in (None, fresh[k])][:5]}"
    )

    # completeness: the decision map must PARTITION the registry exactly
    # into the committed artifacts — quantized == the committed manifest,
    # rows_only == the pinned no-oracle pair, everything else 'clean',
    # and no other decision value exists. (A bare "REGISTRY ∖ decisions
    # is empty" check is vacuous: build_manifest assigns a decision to
    # every name on all code paths — r10 ADVICE.) This version trips if
    # a future decision source adds a category, mislabels a manifest
    # query, or grows the rows-only set without an oracle.
    from grocery_store_sales_forecasting_etl_pipeline_spark import plans as _plans

    by_decision: dict[str, set[str]] = {}
    for n, d in decisions.items():
        by_decision.setdefault(d, set()).add(n)
    assert set(by_decision) == {"quantized", "clean", "rows_only"}, (
        f"unexpected boundary decision categories: {sorted(by_decision)}"
    )
    assert by_decision["quantized"] == set(DECIMAL_BOUNDARY)
    assert by_decision["rows_only"] == {"forecast_per_group", "forecast_weekly_gbt"}, (
        "rows-only (no-oracle) set drifted — every new query needs an oracle "
        f"unless structurally impossible: {sorted(by_decision['rows_only'])}"
    )
    assert by_decision["clean"] == (
        set(_plans.REGISTRY) - set(DECIMAL_BOUNDARY) - by_decision["rows_only"]
    )


def test_boundary_follows_each_build_schema(spark, sf_oracle, monkeypatch):
    """The boundary is derived from every build's own schema: a manifest
    column that comes back as a string is passed through unquantized,
    even after an earlier build of the same query quantized it."""
    import pyspark.sql.functions as F

    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import (
        DECIMAL_BOUNDARY,
    )

    name = "pricing_summary"
    col = DECIMAL_BOUNDARY[name][0]
    first = plans.wrapped_build(name)(spark, sf_oracle)
    assert first.schema[col].dataType.typeName() == "double"

    query = plans.REGISTRY[name]
    raw = query.build
    monkeypatch.setattr(
        query, "build", lambda s, d: raw(s, d).withColumn(col, F.lit("x"))
    )
    second = plans.wrapped_build(name)(spark, sf_oracle)
    assert second.schema[col].dataType.typeName() == "string"
    assert {r[0] for r in second.select(col).distinct().collect()} == {"x"}
