"""Incremental table statistics (streaming/table_stats.py): merged NDV
within HLL error of exact, exact row/null counts, replay idempotence, and
the broadcast recommendation flipping with the threshold.
"""

import pyspark.sql.functions as F

from mysql_cdc_debezium_starrocks_spark.streaming.table_stats import (
    read_stats,
    recommend_broadcast,
    update_stats_batch,
)

SF = "/root/testdata/sf0.001"
COLS = ["o_custkey", "o_orderstatus"]


def _halves(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    return o.filter("o_orderkey % 2 = 0"), o.filter("o_orderkey % 2 = 1")


def test_merged_stats_match_exact(spark, tmp_path):
    state = str(tmp_path / "stats")
    a, b = _halves(spark)
    update_stats_batch(spark, state, a, COLS, 0)
    update_stats_batch(spark, state, b, COLS, 1)

    o = spark.read.parquet(f"{SF}/orders.parquet")
    total = o.count()
    stats = {r["col"]: r for r in read_stats(spark, state).collect()}
    assert set(stats) == set(COLS)
    for c in COLS:
        assert stats[c]["rows"] == total
        exact_ndv = o.select(c).distinct().count()
        est = stats[c]["ndv_est"]
        assert abs(est - exact_ndv) <= max(2, 0.05 * exact_ndv), (c, est, exact_ndv)
        exact_nulls = o.filter(F.col(c).isNull()).count()
        assert stats[c]["nulls"] == exact_nulls


def test_replay_idempotent(spark, tmp_path):
    state = str(tmp_path / "stats")
    a, b = _halves(spark)
    update_stats_batch(spark, state, a, COLS, 0)
    update_stats_batch(spark, state, b, COLS, 1)
    before = sorted(
        map(tuple, read_stats(spark, state).drop("nulls").collect())
    )
    update_stats_batch(spark, state, b, COLS, 1)  # crash replay
    after = sorted(
        map(tuple, read_stats(spark, state).drop("nulls").collect())
    )
    assert before == after


def test_broadcast_recommendation(spark, tmp_path):
    state = str(tmp_path / "stats")
    a, _ = _halves(spark)
    update_stats_batch(spark, state, a, COLS, 0)
    assert recommend_broadcast(spark, state)["broadcast"] is True
    tiny = recommend_broadcast(spark, state, threshold_bytes=10)
    assert tiny["broadcast"] is False and tiny["rows"] > 0


def test_ndv_is_order_fixed_across_parallelism_and_compaction(spark, tmp_path):
    """ndv partials merge as a left fold in batch-id order, so the estimate
    is one number: the same at another shuffle parallelism and across
    compactions (an unordered sketch union moves it by tens of counts)."""
    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import (
        compact_agg_mv,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.table_stats import (
        _KEYS,
        _SPEC,
    )

    cols = ["event_id", "value"]
    state = str(tmp_path / "stats")
    e = load(spark, SF, "events")
    for i, part in enumerate(e.randomSplit([1.0] * 5, seed=3)):
        update_stats_batch(spark, state, part, cols, i)

    def ndv():
        return {r["col"]: r["ndv_est"] for r in read_stats(spark, state).collect()}

    plain = ndv()
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        narrow = ndv()
    finally:
        spark.conf.set(key, prev)
    compact_agg_mv(spark, state, _KEYS, _SPEC, keep_last=2)
    kept2 = ndv()
    compact_agg_mv(spark, state, _KEYS, _SPEC, keep_last=1)
    kept1 = ndv()
    assert plain == narrow == kept2 == kept1, (plain, narrow, kept2, kept1)
    for c in cols:
        exact = e.select(c).distinct().count()
        assert abs(plain[c] - exact) <= 0.05 * exact, (c, plain[c], exact)
