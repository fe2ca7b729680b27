"""gated_broadcast: the size gate keeps the broadcast hint for small
inputs (local plans unchanged), drops it above the threshold (AQE/planner
decide from actual sizes at scale), and the RESULT is identical either
way — a join strategy never changes rows, with or without any hint."""

from __future__ import annotations

import ast
import functools
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark.operators import sizing
from grocery_store_sales_forecasting_etl_pipeline_spark.plans import wrapped_build


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _frame(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )


def test_small_input_keeps_broadcast_hint(spark, sf_smoke):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    dim = _frame(spark, sf_smoke)
    joined = li.join(
        sizing.gated_broadcast(dim), li.l_suppkey == dim.s_suppkey
    )
    assert "BroadcastHashJoin" in _plan(joined)


def test_oversize_input_drops_hint(spark, sf_smoke, monkeypatch):
    monkeypatch.setattr(sizing, "_BCAST_INPUT_MAX", 0)
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    dim = _frame(spark, sf_smoke)
    joined = li.join(
        sizing.gated_broadcast(dim), li.l_suppkey == dim.s_suppkey
    )
    # no user hint in the logical plan: the planner/AQE decide
    assert "UnresolvedHint" not in joined._jdf.queryExecution().logical().toString()
    assert "strategy=broadcast" not in joined._jdf.queryExecution().optimizedPlan().toString()
    # demotion decision is recorded for audit
    assert any(
        site.startswith("gated_broadcast@") and shape == "no-hint(AQE)"
        for site, (_, shape) in sizing.LAST_DECISIONS.items()
    )


def test_non_file_frame_defaults_to_broadcast(spark):
    lit = spark.range(5).select(F.col("id").alias("k"))
    big = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    # a Range plan has size statistics too (a few bytes) -> keep the hint
    joined = big.join(sizing.gated_broadcast(lit), "k")
    # Spark 4 folds the hint into the Join node: rightHint=(strategy=broadcast)
    assert "strategy=broadcast" in joined._jdf.queryExecution().optimizedPlan().toString()


# The queries that keep a size-gated hint (BASELINE.md, "Broadcast-hint
# audit").
_GATED = ["benchmark_decontam", "nation_qty_price_corr", "nation_supplier_hhi"]

# Join strategy never changes rows. The first nine queries lost every
# hint (the last three when their literal frames gained size statistics)
# and pin that removing them changed no rows; the rest keep a hint that
# changes their plan, so each leg below runs a different plan.
_DIFFERENTIAL = [
    "dim_enrich_join",
    "nation_pair_trade",
    "supplier_part_assortativity",
    "bigram_pmi_topk",
    "supplier_overlap_jaccard",
    "tfidf_cosine_pairs",
    "segment_value_shift_function",
    "weekly_quantile_pinball_eval",
    "event_retention_curve",
    *_GATED,
    "class_balance_downsample",
    "embedding_centroid_silhouette",
    "embedding_power_iteration",
    "nation_balance_mad_outliers",
    "range_bucket_join",
    "segment_value_ansari_bradley",
    "target_encoding_loo",
    "temperature_mixture_sample",
]


@pytest.mark.parametrize("query", _DIFFERENTIAL)
def test_gate_demotion_preserves_results(spark, sf_smoke, monkeypatch, query):
    build = wrapped_build(query)
    base = {tuple(map(str, r)) for r in build(spark, sf_smoke).collect()}
    monkeypatch.setattr(sizing, "_BCAST_INPUT_MAX", 0)
    demoted = {tuple(map(str, r)) for r in build(spark, sf_smoke).collect()}
    assert base == demoted
    # no hint at all: the planner and AQE choose every join
    monkeypatch.setattr(F, "broadcast", lambda df: df)
    unhinted = {tuple(map(str, r)) for r in build(spark, sf_smoke).collect()}
    assert base == unhinted


@pytest.mark.parametrize("query", _GATED)
def test_forced_bound_demotes_every_gated_site(spark, sf_smoke, monkeypatch, query):
    """At bound 0 every gated site of these builders must record a
    demotion — none may keep the hint because its frame is unsizable
    (a frame passing a ``localCheckpoint`` keeps its plan statistics)."""
    monkeypatch.setattr(sizing, "_BCAST_INPUT_MAX", 0)
    sizing.LAST_DECISIONS.clear()
    wrapped_build(query)(spark, sf_smoke)
    shapes = [
        shape
        for site, (_, shape) in sizing.LAST_DECISIONS.items()
        if site.startswith("gated_broadcast@")
    ]
    assert shapes and set(shapes) == {"no-hint(AQE)"}, sizing.LAST_DECISIONS


def test_every_gated_site_records_a_decision(spark, sf_smoke):
    """Building the whole registry records a decision (kept or dropped)
    under the key of every ``_gbcast(...)`` call in the package source."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans import REGISTRY

    expected = {
        f"gated_broadcast@{path.name}:{node.lineno}"
        for path in Path(sizing.__file__).parent.parent.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "_gbcast"
    }
    sizing.LAST_DECISIONS.clear()
    for name in sorted(REGISTRY):
        wrapped_build(name)(spark, sf_smoke)
    recorded = {s for s in sizing.LAST_DECISIONS if s.startswith("gated_broadcast@")}
    assert len(expected) == 3
    assert recorded == expected, (expected - recorded, recorded - expected)


def test_checkpointed_frame_sizes_from_plan_stats(spark, sf_smoke, monkeypatch):
    """A localCheckpoint'ed frame has no leaf input files (LogicalRDD),
    but it keeps its origin's plan statistics: the gate sizes it and
    demotes it at bound 0 with no help from the caller."""
    monkeypatch.setattr(sizing, "_BCAST_INPUT_MAX", 0)
    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    ck = d.select("doc_id").localCheckpoint(eager=False)
    plan = (
        d.select("doc_id", "source")
        .join(sizing.gated_broadcast(ck), "doc_id")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "strategy=broadcast" not in plan


def test_wrapped_gate_records_the_plan_site(spark, sf_smoke, monkeypatch):
    """A wrapper around ``gated_broadcast`` (the tracer wraps it by name)
    must not become the recorded site: the key names the plan module's
    ``_gbcast(...)`` line."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans import relational29

    path = Path(relational29.__file__)
    (line,) = [
        node.lineno
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "_gbcast"
    ]
    inner = sizing.gated_broadcast

    @functools.wraps(inner)
    def spy(df):
        return inner(df)

    monkeypatch.setattr(relational29, "_gbcast", spy)
    sizing.LAST_DECISIONS.clear()
    wrapped_build("nation_supplier_hhi")(spark, sf_smoke)
    recorded = {s for s in sizing.LAST_DECISIONS if s.startswith("gated_broadcast@")}
    assert recorded == {f"gated_broadcast@{path.name}:{line}"}
