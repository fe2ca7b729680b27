"""Per-operator correctness: every registered query with an oracle must
hash-match DuckDB at sf0.01 — the same check the driver runs."""

from __future__ import annotations

import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark import plans
from tests.oracle_utils import compare

ORACLED = sorted(name for name, q in plans.REGISTRY.items() if q.oracle is not None)
ROWS_ONLY = sorted(name for name, q in plans.REGISTRY.items() if q.oracle is None)


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(spark, sf_oracle, name):
    # The SHIPPED surface: builder + oracle with the decimal output
    # boundary applied — exactly what queries_map()/oracle_sql_map() hand
    # the external driver.
    df = plans.wrapped_build(name)(spark, sf_oracle)
    compare(df, plans.wrapped_oracle(name), sf_oracle, name=name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_oracle, name):
    q = plans.REGISTRY[name]
    df = q.build(spark, sf_oracle)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_every_spark_float_column_is_manifested(spark, sf_smoke):
    """Reverse-direction completeness of the boundary manifest: the
    manifest is DuckDB-derived (DESCRIBE over oracles), so a Spark-side
    double/decimal output column whose ORACLE types integer/varchar would
    ship unquantized and hash float64 against int64/str in the driver's
    pandas canonicalizer. Assert no such column exists (r9 audit: 0)."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import (
        DECIMAL_BOUNDARY,
    )

    bad = []
    for name, q in sorted(plans.REGISTRY.items()):
        if q.oracle is None:
            continue
        man = set(DECIMAL_BOUNDARY.get(name, []))
        for f in q.build(spark, sf_smoke).schema.fields:
            t = f.dataType.typeName()
            if (t in ("double", "float") or t.startswith("decimal")) and f.name not in man:
                bad.append((name, f.name, t))
    assert not bad, (
        f"unmanifested Spark float/decimal output columns: {bad[:10]} — "
        "the oracle types these non-float; align the oracle or rerun "
        "tools/gen_decimal_manifest.py and investigate"
    )


def test_no_registered_query_emits_array_columns(spark, sf_oracle):
    """Guard: no registered builder may expose an array/map-typed column —
    the driver canonicalizer crashes on list cells even rows-only."""
    from pyspark.sql.types import ArrayType, MapType

    for name, q in sorted(plans.REGISTRY.items()):
        df = q.build(spark, sf_oracle)
        for f in df.schema.fields:
            assert not isinstance(f.dataType, (ArrayType, MapType)), (
                f"{name}: column {f.name} is {f.dataType.simpleString()} — "
                "serialize it before the driver boundary"
            )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
