"""Scale-machinery guarantees: salted joins return plain-join results,
and every size-gated plan choice is recorded."""

from __future__ import annotations

import pyspark.sql.functions as F

from grocery_store_sales_forecasting_etl_pipeline_spark.operators.joins import salted_join
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t


def test_salted_join_equivalence(spark, sf_smoke):
    li = _t(spark, sf_smoke, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    orders = _t(spark, sf_smoke, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey")
    salted = salted_join(li, orders, "l_orderkey", n_salts=4)
    key = lambda r: (r.l_orderkey, r.l_linenumber, r.l_quantity, r.o_totalprice)  # noqa: E731
    assert sorted(map(key, salted.collect())) == sorted(map(key, plain.collect()))


def test_salted_join_rejects_outer_how(spark, sf_smoke):
    import pytest

    from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t

    li = _t(spark, sf_smoke, "lineitem").select(F.col("l_orderkey"))
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(li, li, "l_orderkey", how="full_outer")


def test_sizing_gate_decisions_are_exposed(spark, sf_smoke, capsys):
    """Every size-gated plan choice must be observable (VERDICT r10 #5):
    one stderr log line + a LAST_DECISIONS entry recording bytes seen
    and shape chosen, so a mis-sized derived frame shows up in bench
    output as a visibly wrong decision rather than as a silent slow
    path. capsys, not caplog: the line is printed to stderr, so it
    appears under ANY host logging config."""
    from grocery_store_sales_forecasting_etl_pipeline_spark import plans
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators import sizing

    sizing.LAST_DECISIONS.clear()
    capsys.readouterr()  # drain anything buffered before the gated builds
    plans.REGISTRY["quantile_bracket_audit"].build(spark, sf_smoke)
    plans.REGISTRY["doc_ngram_jaccard"].build(spark, sf_smoke)

    # sf0.001 inputs sit far below both 512 MB / 32 MB thresholds, so
    # both gates must pick their small-input shape — and say so
    b, shape = sizing.LAST_DECISIONS["quantile_bracket_audit"]
    assert shape == "per_flag_sort" and b is not None and b < 512 * 1024 * 1024
    b, shape = sizing.LAST_DECISIONS["jaccard_pairs.shingle_checkpoint"]
    assert shape == "recompute" and b is not None and b < 32 * 1024 * 1024
    err = capsys.readouterr().err
    gate_lines = [l for l in err.splitlines() if l.startswith("spark_graft.sizing:")]
    assert len(gate_lines) == 2, gate_lines
    assert all("plan_bytes=" in l and "shape=" in l for l in gate_lines)

    # an explicit materialize_shingles decision bypasses the gate — no
    # decision recorded, because none was taken
    sizing.LAST_DECISIONS.clear()
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.dedup import jaccard_pairs
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t

    docs = _t(spark, sf_smoke, "documents")
    jaccard_pairs(docs, "doc_id", "text", materialize_shingles=False)
    assert "jaccard_pairs.shingle_checkpoint" not in sizing.LAST_DECISIONS
