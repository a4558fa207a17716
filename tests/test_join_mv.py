"""Incrementally-maintained join MV (streaming/join_mv.py).

The invariant under test after EVERY batch:

    read_join_mv == latest(fact) LEFT JOIN latest(dim), tombstones applied

under arbitrary interleavings of fact/dim deltas, deletes on both sides,
orphan facts healed by later dim inserts, and crash-replay of the last
batch.
"""

import pyspark.sql.functions as F
import pytest

from mysql_cdc_debezium_starrocks_spark.streaming.join_mv import (
    JoinMVConfig,
    merge_join_mv_batch,
    read_join_mv,
)

DIM_COLS = ("c_name", "c_tier")


def _cfg(tmp_path):
    return JoinMVConfig(
        state_dir=str(tmp_path / "mv_state"),
        fact_key="order_key",
        fk="cust_key",
        dim_key="cust_key",
        dim_cols=DIM_COLS,
        buckets=4,
    )


def _fact(spark, rows):
    return spark.createDataFrame(
        rows, "order_key long, cust_key long, amount long, _seq long, __deleted string"
    )


def _dim(spark, rows):
    return spark.createDataFrame(
        rows, "cust_key long, c_name string, c_tier string, _seq long, __deleted string"
    )


def _expected(spark, fact_rows, dim_rows):
    """From-scratch recomputation of the view."""
    from mysql_cdc_debezium_starrocks_spark.cdc.apply import latest_by_key

    f = latest_by_key(_fact(spark, fact_rows), "order_key").filter(
        F.col("__deleted").isNull() | (F.col("__deleted") != "true")
    )
    d = latest_by_key(_dim(spark, dim_rows), "cust_key").filter(
        F.col("__deleted").isNull() | (F.col("__deleted") != "true")
    ).select("cust_key", *DIM_COLS)
    return f.join(d, "cust_key", "left")


def _assert_view_equals(spark, cfg, fact_rows, dim_rows):
    got = sorted(
        map(
            tuple,
            read_join_mv(spark, cfg)
            .select("order_key", "cust_key", "amount", *DIM_COLS)
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            _expected(spark, fact_rows, dim_rows)
            .select("order_key", "cust_key", "amount", *DIM_COLS)
            .collect(),
        )
    )
    assert got == want


def test_interleaved_fact_dim_batches(spark, tmp_path):
    cfg = _cfg(tmp_path)
    dims1 = [(1, "alice", "gold", 1, None), (2, "bob", "silver", 2, None)]
    facts1 = [(10, 1, 100, 3, None), (11, 2, 50, 4, None), (12, 3, 70, 5, None)]
    # batch 1: dims then facts together; order 12 is an ORPHAN (cust 3 unknown)
    merge_join_mv_batch(
        spark, cfg, fact_delta=_fact(spark, facts1), dim_delta=_dim(spark, dims1)
    )
    _assert_view_equals(spark, cfg, facts1, dims1)
    orphan = read_join_mv(spark, cfg).filter(F.col("order_key") == 12).collect()
    assert orphan[0]["c_name"] is None

    # batch 2: dim-only — cust 3 appears (heals the orphan), cust 1 re-tiers
    dims2 = [(3, "carol", "bronze", 6, None), (1, "alice", "platinum", 7, None)]
    merge_join_mv_batch(spark, cfg, dim_delta=_dim(spark, dims2))
    _assert_view_equals(spark, cfg, facts1, dims1 + dims2)
    healed = read_join_mv(spark, cfg).filter(F.col("order_key") == 12).collect()
    assert healed[0]["c_name"] == "carol"
    retier = read_join_mv(spark, cfg).filter(F.col("order_key") == 10).collect()
    assert retier[0]["c_tier"] == "platinum"

    # batch 3: fact update + fact delete + dim delete
    facts2 = [(10, 1, 999, 8, None), (11, 2, 50, 9, "true")]
    dims3 = [(3, None, None, 10, "true")]
    merge_join_mv_batch(
        spark, cfg, fact_delta=_fact(spark, facts2), dim_delta=_dim(spark, dims3)
    )
    all_facts = facts1 + facts2
    all_dims = dims1 + dims2 + dims3
    _assert_view_equals(spark, cfg, all_facts, all_dims)
    view = {r["order_key"]: r for r in read_join_mv(spark, cfg).collect()}
    assert 11 not in view  # fact delete applied
    assert view[10]["amount"] == 999
    assert view[12]["c_name"] is None  # dim delete -> left-join NULL


def test_replay_idempotent(spark, tmp_path):
    cfg = _cfg(tmp_path)
    dims = [(1, "alice", "gold", 1, None)]
    facts = [(10, 1, 100, 2, None), (11, 1, 200, 3, None)]
    merge_join_mv_batch(spark, cfg, fact_delta=_fact(spark, facts), dim_delta=_dim(spark, dims))
    facts2 = [(10, 1, 500, 4, None)]
    merge_join_mv_batch(spark, cfg, fact_delta=_fact(spark, facts2))
    before = sorted(map(tuple, read_join_mv(spark, cfg).collect()))
    merge_join_mv_batch(spark, cfg, fact_delta=_fact(spark, facts2))  # crash replay
    after = sorted(map(tuple, read_join_mv(spark, cfg).collect()))
    assert before == after


def test_null_routing_key_rejected(spark, tmp_path):
    cfg = _cfg(tmp_path)
    with pytest.raises(ValueError, match="routing key"):
        merge_join_mv_batch(
            spark, cfg, fact_delta=_fact(spark, [(10, None, 1, 1, "true")])
        )


def test_dim_propagation_is_partition_pruned(spark, tmp_path):
    """Dim-side propagation must rewrite only the buckets of the changed dim
    keys: untouched view bucket files stay byte-identical."""
    import glob
    import os

    cfg = _cfg(tmp_path)
    dims = [(k, f"c{k}", "t", k, None) for k in range(1, 9)]
    facts = [(100 + k, k, 10 * k, 100 + k, None) for k in range(1, 9)]
    merge_join_mv_batch(spark, cfg, fact_delta=_fact(spark, facts), dim_delta=_dim(spark, dims))

    def snapshot():
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(os.path.join(cfg.mv_path, "_bucket=*", "*.parquet"))
        }

    before = snapshot()
    # touch ONE dim key -> exactly one view bucket may change
    merge_join_mv_batch(
        spark, cfg, dim_delta=_dim(spark, [(5, "c5", "vip", 999, None)])
    )
    after = snapshot()
    changed_buckets = {
        p.split("_bucket=")[1].split("/")[0]
        for p in set(after) ^ set(before) | {p for p in before if before.get(p) != after.get(p)}
    }
    assert len(changed_buckets) <= 1, changed_buckets
    view = {r["order_key"]: r for r in read_join_mv(spark, cfg).collect()}
    assert view[105]["c_tier"] == "vip"


def test_cdc_wire_e2e(spark, tmp_path):
    """Multi-table Debezium-shaped wire stream -> maintained view."""
    import json
    import os

    from mysql_cdc_debezium_starrocks_spark.cdc.schemas import (
        envelope_schema,
        payload_fields,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.join_mv import (
        start_join_mv_load,
    )

    fact_env = envelope_schema(
        payload_fields("order_key", [("cust_key", "long"), ("amount", "long")])
    )
    dim_env = envelope_schema(
        payload_fields("cust_key", [("c_name", "string"), ("c_tier", "string")])
    )
    cfg = _cfg(tmp_path)
    src = str(tmp_path / "wire")
    os.makedirs(src)

    def wire(seq, table, payload):
        return (seq, table, json.dumps({"payload": payload}))

    rows1 = [
        wire(1, "customers", {"cust_key": 1, "c_name": "alice", "c_tier": "gold"}),
        wire(2, "orders", {"order_key": 10, "cust_key": 1, "amount": 100}),
        wire(3, "orders", {"order_key": 11, "cust_key": 2, "amount": 50}),  # orphan
    ]
    rows2 = [
        wire(4, "customers", {"cust_key": 2, "c_name": "bob", "c_tier": "silver"}),
        wire(5, "orders", {"order_key": 10, "cust_key": 1, "amount": 100,
                           "__deleted": "true"}),
    ]
    schema = "_seq long, _table string, value string"
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = start_join_mv_load(
        spark, cfg, stream,
        fact_table="orders", dim_table="customers",
        fact_envelope=fact_env, dim_envelope=dim_env,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    view = {r["order_key"]: r for r in read_join_mv(spark, cfg).collect()}
    assert set(view) == {11}  # order 10 deleted
    assert view[11]["c_name"] == "bob"  # orphan healed by later dim insert


def test_fact_before_any_dim_state(spark, tmp_path):
    """A fact batch arriving before ANY dim batch must materialize with
    typed NULL enrichment (parquet cannot store NullType), and heal once
    the dim rows arrive.  The types must be DECLARED: guessing (the old
    string fallback) wrote guessed types into parquet, and later dim
    batches with different real types left the view with conflicting file
    schemas per bucket."""
    import pytest as _pytest

    from dataclasses import replace

    facts = [(10, 1, 100, 1, None)]
    with _pytest.raises(ValueError, match="dim_types"):
        merge_join_mv_batch(
            spark, _cfg(tmp_path), fact_delta=_fact(spark, facts)
        )

    cfg = replace(_cfg(tmp_path), dim_types=("string", "string"))
    merge_join_mv_batch(spark, cfg, fact_delta=_fact(spark, facts))
    row = read_join_mv(spark, cfg).collect()[0]
    assert row["c_name"] is None and row["c_tier"] is None

    merge_join_mv_batch(
        spark, cfg, dim_delta=_dim(spark, [(1, "alice", "gold", 2, None)])
    )
    row = read_join_mv(spark, cfg).collect()[0]
    assert row["c_name"] == "alice" and row["c_tier"] == "gold"
