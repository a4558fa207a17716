"""The session artifact store (``operators._artifacts``): LRU bound,
release on eviction, replacement and ``clear()``, and build timing for
every kind."""

import os

from mysql_cdc_debezium_starrocks_spark.operators import _artifacts, dedup
from mysql_cdc_debezium_starrocks_spark.operators._artifacts import (
    BUILD_SECONDS,
    clear,
)
from mysql_cdc_debezium_starrocks_spark.operators.text import text_bpe_merges
from mysql_cdc_debezium_starrocks_spark.operators.tpch import q15_top_supplier

from .conftest import SF_SMOKE


def _cached_rdds(spark) -> int:
    """RDDs holding cached blocks in this application (Spark's own view,
    independent of the store's map)."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_artifact_cache_is_lru_and_releases_displaced(spark):
    from pyspark.sql import Row

    cap = _artifacts._CAPACITY
    saved = dict(_artifacts._CACHE)
    _artifacts._CACHE.clear()
    try:
        dfs = {
            i: spark.createDataFrame([Row(x=i)]).persist() for i in range(cap + 1)
        }
        for i in range(cap):
            _artifacts.register(spark, f"/d{i}", "pairs", dfs[i])
        # touching the oldest entry must refresh its recency...
        assert _artifacts._get(spark, "/d0", "pairs") is dfs[0]
        _artifacts.register(spark, f"/d{cap}", "pairs", dfs[cap])
        # ...so the eviction takes /d1 (true LRU), not /d0 (FIFO)
        assert _artifacts._get(spark, "/d0", "pairs") is dfs[0]
        assert _artifacts._get(spark, "/d1", "pairs") is None
        # replacement unpersists the displaced frame
        repl = spark.createDataFrame([Row(x=100)])
        _artifacts.register(spark, f"/d{cap}", "pairs", repl)
        assert not dfs[cap].is_cached
        assert _artifacts._get(spark, f"/d{cap}", "pairs") is repl
    finally:
        _artifacts._CACHE.clear()
        _artifacts._CACHE.update(saved)


def test_clear_releases_q15_revenue(spark):
    """q15's grouped revenue is cached once per dataset, and clear()
    releases it from Spark's cache, not just from the store's map."""
    clear()
    base = _cached_rdds(spark)
    for _ in range(3):
        q15_top_supplier(spark, SF_SMOKE).collect()
    assert _cached_rdds(spark) == base + 1
    clear()
    assert _cached_rdds(spark) == base


def test_clear_releases_simhash_pairs_and_fingerprints(spark):
    """dedup_simhash_pairs caches its pairs and the fingerprint frame both
    join sides read; clear() releases both."""
    clear()
    base = _cached_rdds(spark)
    assert dedup.dedup_simhash_pairs(spark, SF_SMOKE).collect()
    assert _cached_rdds(spark) >= base + 2
    clear()
    assert _cached_rdds(spark) == base


def test_build_seconds_cover_every_kind(spark):
    """The kinds that once used a hand-rolled, untimed cache now report
    their build time like every other kind."""
    kinds = ("pairs", "sigs", "components", "bpe_state", "bpe_merges")
    app = spark.sparkContext.applicationId
    keys = [(app, os.path.abspath(SF_SMOKE), k) for k in kinds]
    clear()
    for k in keys:
        BUILD_SECONDS.pop(k, None)
    dedup.dedup_components(spark, SF_SMOKE).collect()  # pairs, components
    dedup.dedup_minhash_lsh(spark, SF_SMOKE).collect()  # sigs
    text_bpe_merges(spark, SF_SMOKE).collect()  # bpe_state, bpe_merges
    try:
        assert all(BUILD_SECONDS.get(k, -1) >= 0 for k in keys), {
            k[2]: BUILD_SECONDS.get(k) for k in keys
        }
    finally:
        clear()
