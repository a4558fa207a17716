"""Round-7 fixes: scaled pair-histogram blocking, degenerate-input guards.

Covers the r06 verdict lead item (emb_cosine_pair_histogram's bucket count
must scale with the corpus so pair work stays linear) and the two advisor
findings (cusum batch-0 replay — tested in test_cusum_ingest.py — and
zero-covariance crashes in the integer linalg kernels).
"""

from __future__ import annotations

import pytest

from mysql_cdc_debezium_starrocks_spark.operators.linalg import (
    _int_power_iteration,
    _l2_quantize,
)
from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
    CPH_MIN_BUCKETS,
    CPH_TARGET_BUCKET_ROWS,
    _cph_buckets,
)


def test_cph_bucket_rule_floor_and_linear_growth():
    # tiny corpora keep the floor (meaningful pair sample at fixture SFs)
    assert _cph_buckets(0) == CPH_MIN_BUCKETS
    assert _cph_buckets(500) == CPH_MIN_BUCKETS
    assert _cph_buckets(2000) == CPH_MIN_BUCKETS
    assert _cph_buckets(32 * CPH_TARGET_BUCKET_ROWS) == 32
    # past the floor, B ~ n/256: expected pair work B*C(n/B,2) ~ 128n,
    # LINEAR in n — the r06 verdict's fixed-B=32 was n^2/32
    assert _cph_buckets(200_000) == 782
    assert _cph_buckets(3_200_000) == 12_500
    # exact integer ceil (the oracle computes (n + 255) // 256 in SQL)
    for n in (8191, 8192, 8193, 8447, 8448, 8449):
        assert _cph_buckets(n) == max(
            CPH_MIN_BUCKETS,
            (n + CPH_TARGET_BUCKET_ROWS - 1) // CPH_TARGET_BUCKET_ROWS,
        )


def test_cph_bucket_rule_matches_oracle_sql():
    """The DuckDB-side derivation inside the oracle must agree with the
    python rule at every boundary (greatest + integer-divide ceil)."""
    import duckdb

    con = duckdb.connect()
    for n in (1, 500, 2000, 8192, 8193, 200_000, 3_200_000):
        got = con.execute(
            f"SELECT greatest({CPH_MIN_BUCKETS}, "
            f"CAST(({n} + {CPH_TARGET_BUCKET_ROWS - 1}) "
            f"// {CPH_TARGET_BUCKET_ROWS} AS BIGINT))"
        ).fetchone()[0]
        assert got == _cph_buckets(n), n


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


def test_power_iteration_rejects_zero_matrix():
    """Constant embeddings give a zero covariance; the integer kernels must
    raise a descriptive error, not ZeroDivisionError (advisor finding)."""
    with pytest.raises(ValueError, match="zero matrix"):
        _int_power_iteration({}, 4, 10)
    with pytest.raises(ValueError, match="zero vector"):
        _l2_quantize([0, 0, 0])
    # non-degenerate input still works (identity-ish matrix)
    v = _int_power_iteration({(i, i): 1_000_000 for i in range(4)}, 4, 5)
    assert any(x != 0 for x in v)
    assert _l2_quantize(v)


def test_sample_token_budget_boundary_semantics(spark):
    """Per-source token-budget cut: kept docs are exactly the hash-priority
    prefix whose running total (including the doc itself) fits the budget,
    and every source with data keeps at least its first-priority doc."""
    from collections import defaultdict

    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        TOKEN_BUDGET,
        sample_token_budget,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_id, r.source, r.tk, r.cum_tokens)
        for r in sample_token_budget(spark, sf).collect()
    }

    import hashlib

    def pri(doc_id):
        return int(hashlib.md5(f"tb:{doc_id}".encode()).hexdigest()[:8], 16)

    rows = spark.read.parquet(f"{sf}/documents.parquet").selectExpr(
        "doc_id", "source",
        "size(filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)) AS tk",
    ).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append((pri(r.doc_id), r.doc_id, r.tk))
    want = set()
    for src, docs in by_src.items():
        cum = 0
        for _p, did, tk in sorted(docs):
            cum += tk
            if cum > TOKEN_BUDGET:
                break
            want.add((did, src, tk, cum))
    assert got == want
    assert {s for _d, s, _t, _c in got} == set(by_src)  # every source kept >=1
    assert len(got) < len(rows)  # the budget actually cut something


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


def test_budget_report_consistent_with_sampler(spark):
    """The audit's kept_docs/kept_tokens must equal what the sampler
    actually keeps, and fill never exceeds the budget."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        TOKEN_BUDGET,
        mix_budget_report,
        sample_token_budget,
    )

    sf = "/root/testdata/sf0.001"
    rep = {r.source: r for r in mix_budget_report(spark, sf).collect()}
    kept = sample_token_budget(spark, sf).collect()
    by_src = {}
    for r in kept:
        d = by_src.setdefault(r.source, [0, 0])
        d[0] += 1
        d[1] += r.tk
    for src, row in rep.items():
        kd, kt = by_src.get(src, (0, 0))
        assert row.kept_docs == kd and row.kept_tokens == kt, src
        assert row.kept_tokens <= TOKEN_BUDGET
        assert row.fill_ppm == (row.kept_tokens * 10**6) // TOKEN_BUDGET
        assert row.kept_docs <= row.docs and row.kept_tokens <= row.tokens
    assert set(rep) == set(by_src)
