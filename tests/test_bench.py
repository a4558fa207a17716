"""bench.py's helpers: the CDC drift normalization."""


def test_cdc_normalize_rates_and_times():
    """bench.py's CDC drift normalization: rates scale UP on a slow host
    (drift > 1), times scale DOWN, counts/flags pass through untouched."""
    import bench

    raw = {
        "thr": {"1000": {"seconds": 2.0, "events_per_sec": 500}},
        "lat": {"iterations": 5, "avg_ms": 1000, "p95_ms": 2000},
        "del": {"rows_before": 1000, "asserted": True, "seconds": 1.0},
    }
    out = bench._cdc_normalize(raw, 2.0)
    assert out["thr"]["1000"] == {"seconds": 1.0, "events_per_sec": 1000}
    assert out["lat"] == {"iterations": 5, "avg_ms": 500.0, "p95_ms": 1000.0}
    assert out["del"] == {"rows_before": 1000, "asserted": True,
                          "seconds": 0.5}
    # identity drift is a no-op
    assert bench._cdc_normalize(raw, 1.0) == raw
