import os

import pytest

from mysql_cdc_debezium_starrocks_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"

# Tier split (r08 verdict #4): the full 613-test suite takes ~2 h wall on
# this host, which overflowed the driver's verification window (VERIFY_r08
# tests_ok:false with zero failures — a timeout, not a regression).  The
# DEFAULT pytest invocation (pytest.ini addopts) runs the CORE tier:
# contracts, plan gates, and every operator's small-SF parity — the
# driver-facing signal, sized to finish well inside the window.  The slow
# tiers run with `pytest -m "soak or property or slow"` (kept green by the
# builder each round; they exercise long streaming soaks, hypothesis
# property sweeps, and real micro-batch-trigger integration paths whose
# cost is trigger cadence, not operator logic).
#
# Membership is by module so the split lives in ONE place.  Anything not
# listed is core by default — new test modules land in the driver-facing
# tier unless explicitly tiered here.
SOAK_MODULES = {
    "test_soak",
    "test_composed_soak",
}
PROPERTY_MODULES = {
    "test_cdc_property",
    "test_prefix_sum_properties",
}
SLOW_MODULES = {
    # streaming/ingest integration: real micro-batch triggers + sleeps
    "test_agg_mv",
    "test_ann_ingest",
    "test_budget_ingest",
    "test_cusum_ingest",
    "test_heavy_hitters",
    "test_hll_ingest",
    "test_index_maintainer",
    "test_ingest_compaction",
    "test_join_mv",
    "test_retention",
    "test_secondary_index_refresh",
    "test_sources",
    "test_streaming",
    "test_streaming_analytics",
}


def _check_tier_sets() -> None:
    """Every tiered name must be a module here: a rename that misses this
    file would otherwise drop that module's tests into the core tier."""
    here = os.path.dirname(os.path.abspath(__file__))
    stale = sorted(
        m
        for m in SOAK_MODULES | PROPERTY_MODULES | SLOW_MODULES
        if not os.path.isfile(os.path.join(here, f"{m}.py"))
    )
    if stale:
        raise pytest.UsageError(
            f"tests/conftest.py tiers modules that do not exist: {stale}"
        )


def pytest_collection_modifyitems(config, items):
    _check_tier_sets()
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        if mod in SOAK_MODULES:
            item.add_marker(pytest.mark.soak)
        elif mod in PROPERTY_MODULES:
            item.add_marker(pytest.mark.property)
        elif mod in SLOW_MODULES:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s
