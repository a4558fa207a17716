"""Invariants of the temporal operators (operators/temporal.py): EWMA
weights, the sweep-line interval overlap against the plain self-join, and
a python replay of the nearest as-of join.
"""

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.catalog import load
from mysql_cdc_debezium_starrocks_spark.operators.temporal import (
    EWMA_K,
    join_interval_overlap,
    ts_ewma,
)

from .conftest import SF_SMOKE


def test_ewma_weight_sum_and_bounds(spark):
    rows = ts_ewma(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        m = min(r.n_events, EWMA_K)
        # dyadic weights 2^(K-1-d) for d = 0..m-1 sum to 2^K - 2^(K-m)
        assert r.wt_sum == (1 << EWMA_K) - (1 << (EWMA_K - m))
        # ewma is a weighted mean: truncating division keeps it within
        # [min qv - 1, max qv] of the contributing values; cheap bound:
        assert r.ewma_q * r.wt_sum <= r.ewma_num < (r.ewma_q + 1) * r.wt_sum


def test_interval_overlap_sweep_equals_plain_join(spark):
    """The sweep-line reformulation (round 6 — replaced the grid-blocked
    pair join after the 100x run measured its inherent quadratic-in-
    density candidate growth) is an implementation detail: ALL THREE
    aggregates must equal the plain (unblocked) inequality self-join."""
    li = load(spark, SF_SMOKE, "lineitem")
    s = F.to_date("l_shipdate")
    iv = li.select(
        "l_partkey",
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        s.alias("s"),
        F.date_add(s, (F.col("l_quantity").cast("int") % 7) + 1).alias("e"),
    )
    a = iv.select(
        "l_partkey", F.col("ok").alias("ok_a"), F.col("ln").alias("ln_a"),
        F.col("s").alias("s_a"), F.col("e").alias("e_a"),
    )
    b = iv.select(
        "l_partkey", F.col("ok").alias("ok_b"), F.col("ln").alias("ln_b"),
        F.col("s").alias("s_b"), F.col("e").alias("e_b"),
    )
    ov = F.datediff(F.least("e_a", "e_b"), F.greatest("s_a", "s_b")) + 1
    plain = (
        a.join(b, "l_partkey")
        .filter(
            (F.col("ok_a") < F.col("ok_b"))
            | ((F.col("ok_a") == F.col("ok_b")) & (F.col("ln_a") < F.col("ln_b")))
        )
        .filter((F.col("s_a") <= F.col("e_b")) & (F.col("s_b") <= F.col("e_a")))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(ov).alias("sum_overlap_days"),
            F.max(ov).alias("max_overlap_days"),
        )
    )
    expected = {
        r.l_partkey: (r.n_pairs, r.sum_overlap_days, r.max_overlap_days)
        for r in plain.collect()
    }
    got = {
        r.l_partkey: (r.n_pairs, r.sum_overlap_days, r.max_overlap_days)
        for r in join_interval_overlap(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert got, "fixture must produce at least one overlapping pair"


def test_join_asof_nearest_python_replay(spark):
    """Full python replay at smoke SF: per non-purchase event, the nearest
    purchase (backward inclusive, forward strict, tie -> backward, ms
    deltas) — every output column equal."""
    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.temporal import (
        RIGHT_TYPE,
        join_asof_nearest,
    )

    ev = load(spark, SF_SMOKE, "events").collect()
    ms = lambda t: int(t.timestamp() * 1000)  # noqa: E731  (ntz = UTC)
    purchases = sorted(
        (r for r in ev if r.event_type == RIGHT_TYPE),
        key=lambda r: (r.ts, r.event_id),
    )
    by_user: dict = {}
    for r in purchases:
        by_user.setdefault(r.user_id, []).append(r)

    expect = {}
    for r in ev:
        if r.event_type == RIGHT_TYPE:
            continue
        cands = by_user.get(r.user_id, [])
        back = [p for p in cands if p.ts <= r.ts]
        fwd = [p for p in cands if p.ts > r.ts]
        b = max(back, key=lambda p: (p.ts, p.event_id)) if back else None
        f = min(fwd, key=lambda p: (p.ts, p.event_id)) if fwd else None
        if b is not None and (
            f is None or ms(r.ts) - ms(b.ts) <= ms(f.ts) - ms(r.ts)
        ):
            pick = (b.ts, b.value, "backward", -(ms(r.ts) - ms(b.ts)))
        elif f is not None:
            pick = (f.ts, f.value, "forward", ms(f.ts) - ms(r.ts))
        else:
            pick = (None, None, None, None)
        expect[r.event_id] = pick

    got = {
        r.event_id: (r.purchase_ts, r.purchase_value, r.direction, r.delta_ms)
        for r in join_asof_nearest(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expect)
    assert got == expect
    # both directions actually exercised
    dirs = {v[2] for v in got.values()}
    assert "backward" in dirs and "forward" in dirs
