"""The CDC monitor profile (operators/cdc_queries.py::cdc_monitor_profile):
per-op counts against the generator contract, and the GC interval-ledger
fields against a python islands pass over the wire log.
"""

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.catalog import load
from mysql_cdc_debezium_starrocks_spark.operators.cdc_queries import (
    cdc_monitor_profile,
)

from .conftest import SF_SMOKE


def test_cdc_monitor_profile_invariants(spark):
    rows = {r.op: r for r in cdc_monitor_profile(spark, SF_SMOKE).collect()}
    assert set(rows) == {"insert", "update", "delete"}
    orders = load(spark, SF_SMOKE, "orders")
    n = orders.count()
    # generator contract: one insert per key, update for key%5==0,
    # delete for key%7==0 (cdc_queries._ORACLE_EV)
    assert rows["insert"].n_events == rows["insert"].n_keys == n
    assert rows["update"].n_events == orders.filter(
        F.col("o_orderkey") % 5 == 0
    ).count()
    assert rows["delete"].n_events == orders.filter(
        F.col("o_orderkey") % 7 == 0
    ).count()
    total = sum(r.n_events for r in rows.values())
    for r in rows.values():
        assert r.share_ppm == r.n_events * 1_000_000 // total
        assert r.min_seq <= r.max_seq


def test_monitor_profile_surfaces_ledger_fields(spark):
    """cdc_monitor_profile carries the GC interval-ledger fields on the
    oracle-visible path (r05 #4 completion: jobs.show already had them) —
    values must equal a direct python islands pass over the same wire-log
    seq set, with the one-batch-commit age convention (0 when gaps exist)."""
    from mysql_cdc_debezium_starrocks_spark.cdc.apply import parse_envelope
    from mysql_cdc_debezium_starrocks_spark.operators.cdc_queries import (
        cdc_monitor_profile,
        synth_order_events_json,
    )

    sf = "/root/testdata/sf0.001"
    rows = cdc_monitor_profile(spark, sf).collect()
    assert {"n_intervals", "n_gaps", "oldest_gap_age_batches",
            "contiguous_horizon"} <= set(rows[0].asDict())

    seqs = sorted(
        r.s
        for r in parse_envelope(synth_order_events_json(spark, sf))
        .selectExpr("CAST(_seq AS LONG) AS s")
        .distinct()
        .collect()
    )
    n_intervals = 1 + sum(
        1 for a, b in zip(seqs, seqs[1:]) if b != a + 1
    )
    horizon = next(
        (a for a, b in zip(seqs, seqs[1:]) if b != a + 1), seqs[-1]
    )
    for r in rows:  # ledger columns are global: identical on every op row
        assert r.n_intervals == n_intervals
        assert r.n_gaps == n_intervals - 1
        assert r.oldest_gap_age_batches == (0 if n_intervals > 1 else None)
        assert r.contiguous_horizon == horizon
    assert n_intervals > 1  # the synthetic log genuinely has holes
