"""Incremental theta-sketch state (streaming/theta_stats.py): the merged
sketch equals the one-shot sketch bit-for-bit, replay is idempotent, and
cross-state containment/overlap answers match exact set algebra when the
sketches are in exact mode (and stay within sketch error otherwise).
"""

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.operators.sketches import theta_sketch
from mysql_cdc_debezium_starrocks_spark.streaming.theta_stats import (
    containment_between,
    overlap_between,
    read_theta,
    start_theta_load,
    update_theta_batch,
)

SF = "/root/testdata/sf0.001"


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_incremental_sketch_equals_oneshot(spark, tmp_path):
    state = str(tmp_path / "sk")
    o = _orders(spark)
    for i in range(3):
        update_theta_batch(
            spark, state, o.filter(f"o_orderkey % 3 = {i}"), "o_custkey", i
        )
    merged = sorted(
        (r["h"], r["theta"]) for r in read_theta(spark, state).collect()
    )
    direct = sorted(
        (r["h"], r["theta"])
        for r in theta_sketch(
            o.select(F.lit("s").alias("_set"), "o_custkey"),
            "_set",
            "o_custkey",
            k=256,
        ).collect()
    )
    assert merged == direct


def test_replay_idempotent(spark, tmp_path):
    state = str(tmp_path / "sk")
    o = _orders(spark)
    parts = [o.filter(f"o_orderkey % 3 = {i}") for i in range(3)]
    for i, p in enumerate(parts):
        update_theta_batch(spark, state, p, "o_custkey", i)
    before = sorted(map(tuple, read_theta(spark, state).collect()))
    update_theta_batch(spark, state, parts[2], "o_custkey", 2)  # crash replay
    after = sorted(map(tuple, read_theta(spark, state).collect()))
    assert before == after


def test_containment_and_overlap_between_states(spark, tmp_path):
    """fk state = order custkeys, pk state = BUILDING customers; the
    maintained-state answer must match the exact containment within sketch
    error (k=256 -> sigma ~ 0.03 at c ~ 0.2)."""
    fk_state, pk_state = str(tmp_path / "fk"), str(tmp_path / "pk")
    o = _orders(spark)
    c = spark.read.parquet(f"{SF}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    for i in range(2):
        update_theta_batch(
            spark, fk_state, o.filter(f"o_orderkey % 2 = {i}"), "o_custkey", i
        )
    update_theta_batch(spark, pk_state, c, "c_custkey", 0)

    exact_fk = o.select("o_custkey").distinct()
    n_fk = exact_fk.count()
    n_resolved = exact_fk.join(
        c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "semi"
    ).count()
    got = containment_between(spark, fk_state, pk_state)
    assert abs(got["containment_est"] - n_resolved / n_fk) < 0.12

    ov = overlap_between(spark, fk_state, pk_state)
    assert ov["inter_est"] <= ov["union_est"]
    assert 0 <= ov["jaccard_est"] <= 1


def test_exact_mode_small_sets(spark, tmp_path):
    """Sets below k: the maintained sketches are exact, so cross-state
    answers are exact set algebra."""
    a_state, b_state = str(tmp_path / "a"), str(tmp_path / "b")
    a = spark.createDataFrame([(i,) for i in range(40)], "key LONG")
    b = spark.createDataFrame([(i,) for i in range(30, 90)], "key LONG")
    update_theta_batch(spark, a_state, a.filter("key < 20"), "key", 0)
    update_theta_batch(spark, a_state, a.filter("key >= 20"), "key", 1)
    update_theta_batch(spark, b_state, b, "key", 0)
    got = containment_between(spark, a_state, b_state)
    assert got["containment_est"] == round(10 / 40, 6)
    ov = overlap_between(spark, a_state, b_state)
    assert ov["inter_est"] == 10.0 and ov["union_est"] == 90.0


def test_streaming_e2e(spark, tmp_path):
    import os

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src)
    o = _orders(spark)
    parts = [o.filter(f"o_orderkey % 2 = {i}") for i in range(2)]
    schema = parts[0].schema
    parts[0].write.mode("append").parquet(src)
    parts[1].write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_theta_load(
        spark, stream, state, str(tmp_path / "ckpt"), "o_custkey",
    )
    q.awaitTermination(120)
    merged = sorted(
        (r["h"], r["theta"]) for r in read_theta(spark, state).collect()
    )
    direct = sorted(
        (r["h"], r["theta"])
        for r in theta_sketch(
            o.select(F.lit("s").alias("_set"), "o_custkey"),
            "_set",
            "o_custkey",
            k=256,
        ).collect()
    )
    assert merged == direct


def test_state_records_k_and_rejects_mismatch(spark, tmp_path):
    """k/seed are recorded at first write; a different read-k or write-k
    must raise instead of silently flipping into bogus 'exact mode'."""
    import pytest

    state = str(tmp_path / "sk")
    update_theta_batch(spark, state, _orders(spark), "o_custkey", 0, k=64)
    # read at the recorded k works without passing k
    assert read_theta(spark, state).count() > 0
    with pytest.raises(ValueError, match="k=64"):
        read_theta(spark, state, k=256)
    with pytest.raises(ValueError, match="refusing write"):
        update_theta_batch(spark, state, _orders(spark), "o_custkey", 1, k=256)
    with pytest.raises(ValueError, match="refusing write"):
        update_theta_batch(
            spark, state, _orders(spark), "o_custkey", 1, k=64, seed="other"
        )


def test_null_keys_do_not_enter_sketch(spark, tmp_path):
    """NULL FKs (orphans by definition) must not bias theta via a NULL
    hash in the rank-1 slot: the sketch equals the sketch of the non-null
    keys."""
    state_n, state_c = str(tmp_path / "n"), str(tmp_path / "c")
    base = spark.createDataFrame(
        [(i,) for i in range(50)] + [(None,)] * 5, "key LONG"
    )
    update_theta_batch(spark, state_n, base, "key", 0, k=32)
    update_theta_batch(spark, state_c, base.filter("key IS NOT NULL"), "key", 0, k=32)
    a = sorted(map(tuple, read_theta(spark, state_n).collect()))
    b = sorted(map(tuple, read_theta(spark, state_c).collect()))
    assert a == b and a


def test_empty_states_return_defined_estimates(spark, tmp_path):
    """The startup case (batches ingested, zero non-null keys) must return
    defined values, not crash on float(None)."""
    empty, full = str(tmp_path / "e"), str(tmp_path / "f")
    nulls = spark.createDataFrame([(None,)], "key LONG")
    update_theta_batch(spark, empty, nulls, "key", 0)
    update_theta_batch(spark, full, _orders(spark), "o_custkey", 0)

    got = containment_between(spark, empty, full)
    assert got == {
        "inter_sample": 0,
        "fk_sample": 0,
        "fk_sketch_rows": 0,
        "containment_est": 1.0,
    }
    ov = overlap_between(spark, empty, empty)
    assert ov["inter_est"] == 0.0 and ov["jaccard_est"] == 0.0


def test_insufficient_fk_sample_is_none_not_all_clear(spark, tmp_path):
    """Tiny fk set vs a huge pk set: theta_g collapses to the pk theta and
    (almost surely) no fk hash survives the sample — the monitor must say
    'insufficient sample' (None), never 1.0, because every fk key here IS
    an orphan."""
    fk_state, pk_state = str(tmp_path / "fk"), str(tmp_path / "pk")
    fk = spark.createDataFrame([(10_000_000 + i,) for i in range(3)], "key LONG")
    pk = spark.createDataFrame([(i,) for i in range(20_000)], "key LONG")
    update_theta_batch(spark, fk_state, fk, "key", 0, k=16)
    update_theta_batch(spark, pk_state, pk, "key", 0, k=16)
    got = containment_between(spark, fk_state, pk_state)
    assert got["fk_sketch_rows"] == 3
    if got["fk_sample"] == 0:
        assert got["containment_est"] is None
    else:  # an fk hash happened to fall below theta_g: a real estimate
        assert 0.0 <= got["containment_est"] <= 1.0
