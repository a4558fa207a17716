"""Invariants of the statistics and sampling operators (operators/stats.py)
beyond value-level parity (tools/parity.py): basket pairs, vocabulary
coverage and growth, source Gini, column profiles, bootstrap replicas,
token budgets, the rolling z-score's saturation, PMI co-occurrence, KS
drift, temperature and weighted-priority sampling, mixture convergence,
and exact python replays of the integer kernels (epoch repeats, CUSUM,
doc-length profiles, KL by source, DSIR weights).
"""

import datetime
import math
from collections import defaultdict
from decimal import Decimal

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.catalog import load
from mysql_cdc_debezium_starrocks_spark.operators.stats import (
    PMI_MIN_SUP,
    basket_part_pairs,
    stats_column_profile,
    stats_ks_by_source,
    text_pmi_cooccur,
    ts_anomaly_zscore,
)
from mysql_cdc_debezium_starrocks_spark.plans import (
    has_cartesian,
    plan_of,
    shuffle_count,
)

from ._replay import _phash32, _qln, _tdiv, _words
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


def test_pmi_pairs_canonical_and_supported(spark):
    rows = text_pmi_cooccur(spark, SF_SMOKE).collect()
    assert rows, "fixture corpus must surface co-occurring pairs"
    for r in rows:
        # canonical unordered pair: alphabetical, never a self-pair
        assert r.word_a < r.word_b
        assert r.n_ab >= PMI_MIN_SUP
        # a pair can't co-occur more often than either word occurs
        assert r.n_ab <= r.n_a and r.n_ab <= r.n_b
        # score is exactly the integer-scaled PMI kernel
        assert r.score_ppb == (r.n_ab * 1_000_000_000) // (r.n_a * r.n_b)
    # ranking is (score desc, pair asc) — deterministic under ties
    key = [(-r.score_ppb, r.word_a, r.word_b) for r in rows]
    assert key == sorted(key)


def test_pmi_unigram_counts_match_corpus(spark):
    """The unigram counts joined onto pairs must be the true corpus counts
    (guards the persisted-uni plumbing)."""
    rows = text_pmi_cooccur(spark, SF_SMOKE).collect()
    some = {r.word_a: r.n_a for r in rows[:5]}
    d = load(spark, SF_SMOKE, "documents")
    w = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: F.length(x) > 0)
    truth = dict(
        d.select(F.explode(w).alias("word"))
        .filter(F.col("word").isin(*some))
        .groupBy("word")
        .count()
        .collect()
    )
    assert {k: truth[k] for k in some} == some


def test_ks_drift_bounds_and_totals(spark):
    rows = stats_ks_by_source(spark, SF_SMOKE).collect()
    d = load(spark, SF_SMOKE, "documents")
    n_docs = d.count()
    n_sources = d.select("source").distinct().count()
    assert len(rows) == n_sources
    for r in rows:
        # KS statistic is a probability-scale sup-norm
        assert 0 <= r.ks_ppm <= 1_000_000
        # each source + its complement partition the corpus
        assert r.n_s + r.n_rest == n_docs
        assert r.max_dev <= r.n_s * r.n_rest


def test_ks_detects_injected_shift(spark, tmp_path):
    """A source whose docs are all much longer than the rest must dominate
    the drift ranking (the property the gate exists to catch)."""
    d = load(spark, SF_SMOKE, "documents")
    shifted = d.withColumn(
        "text",
        F.when(
            F.col("source") == "src0",
            F.concat_ws(" ", F.col("text"), F.repeat(F.lit("pad "), 400)),
        ).otherwise(F.col("text")),
    )
    shifted.write.parquet(str(tmp_path / "documents.parquet"))
    rows = stats_ks_by_source(spark, str(tmp_path)).collect()
    by_src = {r.source: r.ks_ppm for r in rows}
    assert by_src["src0"] == max(by_src.values())
    assert by_src["src0"] > 900_000  # near-total separation


def test_vocab_growth_monotone_and_bounded(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        VOCAB_CHECKPOINTS,
        text_vocab_growth,
    )

    rows = text_vocab_growth(spark, SF_SMOKE).collect()
    assert len(rows) == VOCAB_CHECKPOINTS
    prev_t = prev_v = 0
    for r in rows:
        # both cumulatives are monotone, vocab never outgrows tokens
        assert r.cum_tokens >= prev_t and r.cum_vocab >= prev_v
        assert r.cum_vocab <= r.cum_tokens
        prev_t, prev_v = r.cum_tokens, r.cum_vocab
    assert rows[-1].cum_vocab > 0


def test_temperature_sampling_invariants(spark):
    """alpha=1/2 reweighting: weights sum to ~1e6, the most up-weighted
    source samples at exactly 100%, and up-weighting favors small shares."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        mix_temperature_sampling,
    )

    rows = mix_temperature_sampling(spark, SF_SMOKE).collect()
    assert len(rows) > 1
    wsum = sum(r.temp_weight_ppm for r in rows)
    assert 1_000_000 - len(rows) <= wsum <= 1_000_000
    assert max(r.sample_rate_ppm for r in rows) == 1_000_000
    assert all(0 < r.sample_rate_ppm <= 1_000_000 for r in rows)
    # smallest share must hold the max keep-rate; weights flatter than raw
    smallest = min(rows, key=lambda r: (r.share_ppm, r.source))
    assert smallest.sample_rate_ppm == 1_000_000
    for r in rows:
        if r.share_ppm > smallest.share_ppm:
            assert r.temp_weight_ppm < 2 * r.share_ppm  # flattened upward shares


def test_eval_mix_convergence_shares_and_targets(spark):
    """Realized shares sum to ~1e6 over the targeted sources, targets match
    the published policy, and the deviation column is exact."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        MIX_TARGET_SHARE,
        eval_mix_convergence,
    )

    rows = eval_mix_convergence(spark, SF_SMOKE).collect()
    assert {r.source for r in rows} == set(MIX_TARGET_SHARE)
    s = sum(r.realized_ppm for r in rows)
    assert 1_000_000 - len(rows) <= s <= 1_000_000
    for r in rows:
        assert r.target_ppm == round(MIX_TARGET_SHARE[r.source] * 1_000_000)
        assert r.abs_dev_ppm == abs(r.realized_ppm - r.target_ppm)


def test_stats_doc_len_profile_python_replay(spark):
    """Exact per-source length percentiles equal a python replay of the
    order-statistic definitions (med2 = two middle lengths, p95 = value at
    rank ceil(0.95 n))."""
    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        stats_doc_len_profile,
    )

    docs = load(spark, SF_SMOKE, "documents").collect()
    by_src: dict = {}
    for r in docs:
        by_src.setdefault(r.source, []).append(
            len([w for w in r.text.lower().split() if w])
        )
    expect = {}
    for src, toks in by_src.items():
        s = sorted(toks)
        n = len(s)
        med2 = s[(n + 1) // 2 - 1] + s[(n + 2) // 2 - 1]
        p95 = s[(19 * n + 19) // 20 - 1]
        expect[src] = (n, sum(s), med2, p95, max(s))
    got = {
        r.source: (r.n_docs, r.total_tokens, r.med2, r.p95_tokens, r.max_tokens)
        for r in stats_doc_len_profile(spark, SF_SMOKE).collect()
    }
    assert got == expect and len(got) > 1


def test_sample_weighted_priority_replay(spark):
    """Exact A-ES priority order: cost = (QLN32 - qln(h+1))*1e6 div w over
    the portable hash, 20 smallest (cost, doc_id)."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        sample_weighted_priority,
    )

    docs = load(spark, SF_SMOKE, "documents").collect()
    expect = []
    for r in docs:
        h = _phash32(str(r.doc_id), "wrs")
        cost = _tdiv((22180710 - _qln(h + 1)) * 1_000_000, max(r.n_chars, 1))
        expect.append((cost, r.doc_id, r.source, r.n_chars))
    expect.sort()
    expect = [(d, s, w, c) for c, d, s, w in expect[:20]]

    got = [
        (r.doc_id, r.source, r.w, r.cost_q)
        for r in sample_weighted_priority(spark, SF_SMOKE)
        .orderBy("cost_q", "doc_id")
        .collect()
    ]
    assert got == expect
    # weighted WOR property: the sample's mean weight must exceed the
    # corpus mean (big docs are proportionally favored)
    corpus_mean = sum(r.n_chars for r in docs) / len(docs)
    sample_mean = sum(w for _, _, w, _ in got) / len(got)
    assert sample_mean > corpus_mean


def test_sample_weighted_priority_plan(spark):
    """Global top-k must be TakeOrderedAndProject — per-partition heaps,
    no shuffle, no global sort of the corpus."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        sample_weighted_priority,
    )

    p = plan_of(sample_weighted_priority(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    assert shuffle_count(p) == 0
    assert not has_cartesian(p)


def test_stats_kl_by_source_replay(spark):
    """Exact integer replay of the quantized-log KL decomposition."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        stats_kl_by_source,
    )

    docs = load(spark, SF_SMOKE, "documents").collect()
    st: dict = {}
    for r in docs:
        for t in _words(r.text):
            st[(r.source, t)] = st.get((r.source, t), 0) + 1
    ct: dict = {}
    ts: dict = {}
    for (s, t), c in st.items():
        ct[t] = ct.get(t, 0) + c
        ts[s] = ts.get(s, 0) + c
    t_all = sum(ct.values())
    expect = {}
    for s in ts:
        acc = sum(
            c * ((_qln(c) - _qln(ts[s])) - (_qln(ct[t]) - _qln(t_all)))
            for (s2, t), c in st.items()
            if s2 == s
        )
        expect[s] = (ts[s], _tdiv(acc, ts[s]))

    got = {
        r.source: (r.n_tokens, r.kl_micro_nats)
        for r in stats_kl_by_source(spark, SF_SMOKE).collect()
    }
    assert got == expect
    # true KL >= 0; quantization noise is bounded by ~1 micro-nat per term
    assert all(kl > -100 for _, kl in got.values())


def test_mix_dsir_weights_replay(spark):
    """Exact integer replay of the hashed-bigram importance weights, plus
    the selection property: the target source scores the highest mean."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        DSIR_BUCKETS,
        DSIR_TARGET,
        mix_dsir_weights,
    )

    docs = load(spark, SF_SMOKE, "documents").collect()
    doc_grams = []
    for r in docs:
        w = _words(r.text)
        grams = [f"{a} {b}" for a, b in zip(w, w[1:])]
        doc_grams.append(
            (r.doc_id, r.source, [
                _phash32(g, "dsir") % DSIR_BUCKETS for g in grams
            ])
        )
    ct = [0] * DSIR_BUCKETS
    cr = [0] * DSIR_BUCKETS
    for _, s, bs in doc_grams:
        for b in bs:
            (ct if s == DSIR_TARGET else cr)[b] += 1
    tt, tr = sum(ct), sum(cr)
    lr = [
        (_qln(ct[b] + 1) - _qln(tt + DSIR_BUCKETS))
        - (_qln(cr[b] + 1) - _qln(tr + DSIR_BUCKETS))
        for b in range(DSIR_BUCKETS)
    ]
    per_source: dict = {}
    for doc_id, s, bs in doc_grams:
        if not bs:
            continue
        w_micro = sum(lr[b] for b in bs)
        per_source.setdefault(s, []).append(w_micro)
    expect = {
        s: (
            len(ws),
            _tdiv(sum(ws), len(ws)),
            min(ws),
            max(ws),
        )
        for s, ws in per_source.items()
    }

    got = {
        r.source: (r.n_docs, r.mean_w_micro, r.min_w_micro, r.max_w_micro)
        for r in mix_dsir_weights(spark, SF_SMOKE).collect()
    }
    assert got == expect
    best = max(got, key=lambda s: got[s][1])
    assert best == DSIR_TARGET
