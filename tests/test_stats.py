"""Invariants of the statistics and sampling operators (operators/stats.py)
beyond value-level parity (tools/parity.py): basket pairs, vocabulary
coverage, source Gini, column profiles, bootstrap replicas, token budgets,
the rolling z-score's saturation, and exact python replays of the integer
kernels (epoch repeats, CUSUM).
"""

import datetime
import math
from collections import defaultdict
from decimal import Decimal

from mysql_cdc_debezium_starrocks_spark.catalog import load
from mysql_cdc_debezium_starrocks_spark.operators.stats import (
    basket_part_pairs,
    stats_column_profile,
    ts_anomaly_zscore,
)

from ._replay import _phash32, _tdiv
from .conftest import SF_SMOKE


def test_basket_pair_bounds(spark):
    rows = basket_part_pairs(spark, SF_SMOKE).collect()
    assert rows, "sf0.001 must produce co-occurring part pairs"
    for r in rows:
        assert r.part_a < r.part_b
        assert r.n_ab <= min(r.n_a, r.n_b)
        assert r.lift_q > 0


def test_vocab_coverage_monotone_and_bounded(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        VOCAB_COVERAGE_KS,
        text_vocab_coverage,
    )

    rows = sorted(
        text_vocab_coverage(spark, SF_SMOKE).collect(), key=lambda r: r.vocab_k
    )
    assert [r.vocab_k for r in rows] == list(VOCAB_COVERAGE_KS)
    prev = 0
    for r in rows:
        assert 0 <= r.covered_tokens <= r.total_tokens
        assert r.coverage_ppm == (r.covered_tokens * 1_000_000) // r.total_tokens
        assert r.covered_tokens >= prev  # coverage grows with vocab size
        prev = r.covered_tokens
    last = rows[-1]
    if last.vocab_k >= last.vocab_size:  # full-vocab checkpoint covers all
        assert last.coverage_ppm == 1_000_000


def test_source_gini_bounds(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        stats_source_gini,
    )

    [r] = stats_source_gini(spark, SF_SMOKE).collect()
    assert r.n_sources >= 2 and r.total_tokens > 0
    # Gini of a discrete distribution lies in [0, 1 - 1/S); ppm-quantized
    assert 0 <= r.gini_ppm < 1_000_000
    assert r.max_share_ppm >= 1_000_000 // r.n_sources  # max >= mean share
    assert r.max_share_ppm <= 1_000_000


def test_column_profile_invariants(spark):
    rows = {r.col_name: r for r in stats_column_profile(spark, SF_SMOKE).collect()}
    n = load(spark, SF_SMOKE, "orders").count()
    assert all(r.n_rows == n for r in rows.values())
    pk = rows["o_orderkey"]
    assert pk.n_nulls == 0 and pk.n_distinct == n
    for r in rows.values():
        assert r.n_distinct <= r.n_rows - r.n_nulls
    # numeric min/max must order numerically, not lexically (the rendered
    # strings themselves need not sort lexically — "999" vs "10000")
    assert int(pk.min_value) <= int(pk.max_value)
    assert float(rows["o_totalprice"].min_value) <= float(
        rows["o_totalprice"].max_value
    )
    assert rows["o_orderdate"].min_value <= rows["o_orderdate"].max_value


def test_bootstrap_replicas_center_on_corpus_mean(spark):
    """Each replica's effective n is a Poisson(n) draw (within 5 sigma) and
    the replica means bracket the true corpus mean."""
    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        BOOT_B,
        stats_bootstrap_means,
    )

    reps = stats_bootstrap_means(spark, SF_SMOKE).collect()
    assert len(reps) == BOOT_B
    d = load(spark, SF_SMOKE, "documents")
    n = d.count()
    true_mean = d.agg({"n_chars": "avg"}).collect()[0][0]
    for r in reps:
        assert abs(r.n_eff - n) < 5 * math.sqrt(n) + 1, r
        assert r.mean_chars_ppm == (r.sum_chars * 1_000_000) // r.n_eff
    means = sorted(r.mean_chars_ppm / 1e6 for r in reps)
    assert means[0] <= true_mean <= means[-1]
    # spread sanity: bootstrap sd ~ sd/sqrt(n), so the band is tight
    assert means[-1] - means[0] < true_mean  # loose upper bound


def test_mix_upsample_repeat_replay(spark):
    """Exact python replay of the integer repeat plan + its per-doc
    realization, and the planning invariants: under-represented targeted
    sources repeat > 1 epoch (capped), untargeted sources drop."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        MIX_TARGET_SHARE,
        UPSAMPLE_CAP_PPM,
        mix_upsample_repeat,
    )

    docs = load(spark, SF_SMOKE, "documents").collect()
    tk = {r.doc_id: len([w for w in r.text.lower().split() if w]) for r in docs}
    toks, ndocs = defaultdict(int), defaultdict(int)
    for r in docs:
        toks[r.source] += tk[r.doc_id]
        ndocs[r.source] += 1
    total = sum(toks.values())
    plan = {}
    for s in toks:
        share = _tdiv(toks[s] * 1_000_000, total)
        tgt = round(MIX_TARGET_SHARE.get(s, 0) * 1_000_000)
        rep = (
            min(UPSAMPLE_CAP_PPM, _tdiv(tgt * 1_000_000, max(share, 1)))
            if tgt > 0
            else 0
        )
        plan[s] = (share, tgt, rep)
    docs_out, toks_out = defaultdict(int), defaultdict(int)
    for r in docs:
        rep = plan[r.source][2]
        c = rep // 1_000_000 + (
            1 if _phash32(str(r.doc_id), "rep") % 1_000_000 < rep % 1_000_000 else 0
        )
        docs_out[r.source] += c
        toks_out[r.source] += tk[r.doc_id] * c

    rows = mix_upsample_repeat(spark, SF_SMOKE).collect()
    assert {r.source for r in rows} == set(toks)
    for r in rows:
        share, tgt, rep = plan[r.source]
        assert (r.tokens, r.n_docs) == (toks[r.source], ndocs[r.source])
        assert (r.share_ppm, r.tgt_ppm, r.repeat_ppm) == (share, tgt, rep)
        assert (r.docs_out, r.tokens_out) == (
            docs_out[r.source],
            toks_out[r.source],
        )
        if tgt == 0:
            assert rep == 0 and r.docs_out == 0
        elif tgt > share:  # under-represented: must up-sample (or cap)
            assert rep > 1_000_000
        assert rep <= UPSAMPLE_CAP_PPM

    # realization consistency: docs_out within 1 of the expectation
    for r in rows:
        rep = plan[r.source][2]
        expect = ndocs[r.source] * rep / 1_000_000
        assert abs(r.docs_out - expect) <= max(0.05 * expect, 25)


def test_ts_changepoint_cusum_replay(spark):
    """Exact replay of the prefix-min CUSUM closed form against the
    textbook recursion s_t = max(0, s_{t-1} + z_t - k) — the two must be
    identical, which is the whole point of the windowed reformulation."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        CUSUM_K_MILLI,
        CUSUM_TOPK,
        ts_changepoint_cusum,
    )

    ev = load(spark, SF_SMOKE, "events").collect()
    hourly = defaultdict(int)
    for r in ev:
        hourly[(r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))] += 1
    series = defaultdict(list)
    for (t, hr), c in sorted(hourly.items()):
        series[t].append((hr, c))
    expect = {}
    for t, pts in series.items():
        n = len(pts)
        sx = sum(c for _, c in pts)
        sxx = sum(c * c for _, c in pts)
        mean = _tdiv(sx, n)
        sigma = int(math.floor(math.sqrt(float(_tdiv(sxx, n) - mean * mean))))
        s = 0  # the textbook recursion
        for hr, c in pts:
            z = _tdiv((c - mean) * 1000, max(sigma, 1))
            s = max(0, s + z - CUSUM_K_MILLI)
            expect[(t, hr)] = s
    want = sorted(
        ((v, t, hr) for (t, hr), v in expect.items()),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:CUSUM_TOPK]

    got = [
        (r.cusum_milli, r.event_type, r.hr)
        for r in ts_changepoint_cusum(spark, SF_SMOKE).collect()
    ]
    assert got == want
    assert got[0][0] > 0  # the top cell is an actual excursion


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


def test_near_constant_window_saturates_not_errors(spark, tmp_path):
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(20):
        # 19 identical values + one 2e-5 wiggle: variance tiny but > 0
        # AND above double-rounding noise (a 1e-6 wiggle lands below the
        # sufficient-statistics rounding floor and the var > 0 guard
        # correctly drops the row instead); z ~ 2.2e7 > the 1e7 ceiling
        v = 100.00002 if i == 5 else 100.0
        rows.append((i, "t", t0 + datetime.timedelta(seconds=i), v))
    rows.append((20, "t", t0 + datetime.timedelta(seconds=20), 200.0))
    d = str(tmp_path / "fx")
    spark.createDataFrame(
        rows,
        "event_id long, event_type string, ts timestamp_ntz, value double",
    ).write.parquet(f"{d}/events.parquet")

    out = {r.event_id: r.z for r in ts_anomaly_zscore(spark, d).collect()}
    # the outlier against the near-constant window flags at the exact
    # saturation ceiling instead of overflowing the decimal contract
    assert out[20] == Decimal("10000000.0000")
