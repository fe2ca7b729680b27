from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")

# Two-tier suite (pytest.ini): the heavyweight modules below dominate the
# full-suite wall clock (full-registry oracle parity and plan walks are
# O(#registered queries); streaming suites block on micro-batch triggers;
# the E2E pipeline/orchestrator fixtures and the similarity/dedup/sketch
# property suites each run multi-second Spark jobs). Everything else is
# the ~5-minute fast gate: `pytest -m fast`. Durations measured r9
# (--durations=80, quiet machine) — re-profile before re-tiering.
_SLOW_MODULES = {
    "test_oracle_parity",
    "test_plans",
    "test_streaming",
    "test_maintenance",
    "test_incremental_pipeline",
    "test_pipeline",
    "test_orchestrator",
    "test_similarity",
    "test_dedup",
    "test_sketches",
    "test_graph",
    "test_graph_properties",
}

# Individually heavy tests (> ~3s) inside otherwise-fast modules: keep the
# module in the fast gate for breadth, push just these to the slow tier.
_SLOW_TESTS = {
    "test_effect_sizes_quadratic_replay",  # 118s quadratic replay
    "test_brown_forsythe_from_raw_deviations",
    "test_golden_record_covers_all_paired_customers",
    "test_golden_record_clusters_are_consistent",
    "test_cluster_representatives_are_longest",
    "test_acf_matches_numpy_corrcoef",
    "test_inverted_index_short_docs_emit_no_null_gram",
    "test_1nn_accuracy_replay",
    "test_energy_distance_replay",  # 13.8s pairwise-distance replay (r9 durations)
    "test_every_gated_site_records_a_decision",  # builds the whole registry
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        # non-Function items (doctests, custom collectors) lack
        # originalname/module — fall back instead of breaking collection
        mod = getattr(getattr(item, "module", None), "__name__", "").rsplit(".", 1)[-1]
        name = getattr(item, "originalname", None) or item.name
        slow = mod in _SLOW_MODULES or name in _SLOW_TESTS
        item.add_marker(pytest.mark.slow if slow else pytest.mark.fast)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from grocery_store_sales_forecasting_etl_pipeline_spark.session import get_spark

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(app_name="engine-tests", warehouse_dir=warehouse)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
