"""Streaming Misra-Gries heavy hitters (streaming/heavy_hitters.py).

Properties proved: bounded state (<= M counters), the est <= true <=
est + D sandwich for every key, guaranteed presence of every key heavier
than D, replay idempotence of the versioned snapshots, and E2E operation
under Structured Streaming's foreachBatch.
"""

import os

import pyspark.sql.functions as F
import pytest

from mysql_cdc_debezium_starrocks_spark.streaming.heavy_hitters import (
    heavy_hitters_view,
    merge_heavy_hitters_batch,
    start_heavy_hitters_load,
)

M = 16


def _skewed_batch(spark, batch_no, rows=3000):
    """Zipf-ish synthetic keys: key k gets ~rows/(k+1) occurrences."""
    df = spark.range(rows).select(
        (
            F.floor(
                F.pow(F.lit(2.0), F.floor(F.log2(F.col("id") % 1024 + 1)))
            )
        ).cast("long").alias("user_id")
    )
    return df.withColumn("batch_no", F.lit(batch_no))


def _true_counts(batches):
    from collections import Counter

    c = Counter()
    for b in batches:
        for r in b.select("user_id").collect():
            c[str(r["user_id"])] += 1
    return c


def test_sandwich_bound_and_presence(spark, tmp_path):
    state = str(tmp_path / "hh")
    batches = [_skewed_batch(spark, i) for i in range(3)]
    for i, b in enumerate(batches):
        merge_heavy_hitters_batch(spark, state, b, i, m=M)

    view = heavy_hitters_view(spark, state, k=M).collect()
    assert 0 < len(view) <= M
    true = _true_counts(batches)
    n_total = sum(true.values())
    d = view[0]["deducted"]
    assert view[0]["n_total"] == n_total

    est = {r["key"]: r["est"] for r in view}
    for key, tc in true.items():
        e = est.get(key, 0)
        assert e <= tc <= e + d, (key, e, tc, d)
    # every key heavier than D must be present
    for key, tc in true.items():
        if tc > d:
            assert key in est, (key, tc, d)
    # and the heaviest true key must rank first
    heaviest = max(true, key=lambda k: true[k])
    assert view[0]["key"] == heaviest


def test_replay_idempotent(spark, tmp_path):
    state = str(tmp_path / "hh")
    batches = [_skewed_batch(spark, i) for i in range(3)]
    for i, b in enumerate(batches):
        merge_heavy_hitters_batch(spark, state, b, i, m=M)
    before = sorted(map(tuple, heavy_hitters_view(spark, state, k=M).collect()))
    # crash-replay of the last batch: summary/batch=2 must regenerate identically
    merge_heavy_hitters_batch(spark, state, batches[2], 2, m=M)
    after = sorted(map(tuple, heavy_hitters_view(spark, state, k=M).collect()))
    assert before == after


def test_streaming_e2e(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    for i in range(2):
        _skewed_batch(spark, i, rows=1000).write.mode("append").parquet(src)
    stream = spark.readStream.schema("user_id long, batch_no int").parquet(src)
    q = start_heavy_hitters_load(spark, stream, state, ckpt, m=M)
    q.awaitTermination(120)
    view = heavy_hitters_view(spark, state, k=5).collect()
    assert view and view[0]["n_total"] == 2000
    assert len(view) <= 5


def test_state_is_bounded(spark, tmp_path):
    state = str(tmp_path / "hh")
    for i in range(4):
        merge_heavy_hitters_batch(
            spark, state, _skewed_batch(spark, i, rows=2000), i, m=M
        )
    from mysql_cdc_debezium_starrocks_spark.streaming._state import (
        snapshot_ids,
    )

    ids = snapshot_ids(os.path.join(state, "summary"))
    assert len(ids) <= 3  # snapshot pruning
    latest = spark.read.parquet(
        os.path.join(state, "summary", f"batch={ids[-1]}")
    )
    assert latest.filter(F.col("key").isNotNull()).count() <= M
