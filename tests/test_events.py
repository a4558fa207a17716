"""Invariants of the event-stream operators (operators/events.py):
python replays of last-touch attribution, DAU/WAU and burst anomalies.
"""

from .conftest import SF_SMOKE


def test_attribution_matches_python_replay(spark):
    """Every purchase is credited exactly once, to the user's most recent
    prior click/view — verified against a per-user python replay."""
    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.events import (
        events_attribution,
    )

    rows = load(spark, SF_SMOKE, "events").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    expect = {}
    for evs in by_user.values():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        touch = None
        for r in evs:
            if r.event_type == "purchase":
                expect[touch or "none"] = expect.get(touch or "none", 0) + 1
            if r.event_type in ("click", "view"):
                touch = r.event_type
    got = {
        r.attributed_touch: r.n_purchases
        for r in events_attribution(spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert sum(got.values()) == sum(
        1 for r in rows if r.event_type == "purchase"
    )


def test_dau_wau_python_replay(spark):
    """DAU/WAU equals a python replay over (day, user) pairs; stickiness
    is bounded by 1."""
    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.events import (
        events_dau_wau,
    )

    pairs = {
        (r.ts.date(), r.user_id)
        for r in load(spark, SF_SMOKE, "events").collect()
    }
    days = sorted({d for d, _ in pairs})
    import datetime

    expect = {}
    for d in days:
        dau = len({u for dd, u in pairs if dd == d})
        wau = len(
            {
                u
                for dd, u in pairs
                if d - datetime.timedelta(days=6) <= dd <= d
            }
        )
        expect[str(d)] = (dau, wau)
    got = {
        r.day: (r.dau, r.wau) for r in events_dau_wau(spark, SF_SMOKE).collect()
    }
    assert got == expect
    for r in events_dau_wau(spark, SF_SMOKE).collect():
        assert r.dau <= r.wau and r.stickiness_ppm <= 1_000_000
        assert r.stickiness_ppm == r.dau * 1_000_000 // r.wau


def test_events_burst_anomaly_python_replay(spark):
    """The burst flags equal a python replay of the integer median/MAD
    scheme over per-minute counts; the baseline columns are constant."""
    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.events import (
        events_burst_anomaly,
    )

    ev = load(spark, SF_SMOKE, "events").collect()
    counts: dict = {}
    for r in ev:
        counts[r.ts.replace(second=0, microsecond=0)] = (
            counts.get(r.ts.replace(second=0, microsecond=0), 0) + 1
        )
    cs = sorted(counts.values())
    n = len(cs)
    med2 = cs[(n + 1) // 2 - 1] + cs[(n + 2) // 2 - 1]
    devs = sorted(abs(2 * c - med2) for c in counts.values())
    mad4 = devs[(n + 1) // 2 - 1] + devs[(n + 2) // 2 - 1]
    expect = {
        m: (c, n, med2, mad4, 2 * abs(2 * c - med2) > 3 * mad4)
        for m, c in counts.items()
    }
    got = {
        r.minute_ts: (r.n_events, r.n_minutes, r.med2, r.mad4, r.is_burst)
        for r in events_burst_anomaly(spark, SF_SMOKE).collect()
    }
    assert got == expect and n > 100
