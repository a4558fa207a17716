"""Round-4 third-wave operators: last-touch attribution, blocked fuzzy
join, boilerplate-prefix profiling, temperature mixture sampling.
Cross-engine value parity is tools/parity.py; these assert operator-level
invariants.
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


def test_fuzzy_join_equals_unblocked_within_threshold(spark):
    """The blocked join finds exactly the same-block near pairs the naive
    n^2 scan finds, and every emitted pair respects the threshold."""
    import itertools

    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.relational_ext import (
        FUZZY_MAX_DIST,
        join_fuzzy_parts,
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    names = sorted(
        r.p_name
        for r in load(spark, SF_SMOKE, "part").select("p_name").distinct().collect()
    )
    expect = {
        (a, b)
        for a, b in itertools.combinations(names, 2)
        if a.split()[-1] == b.split()[-1] and lev(a, b) <= FUZZY_MAX_DIST
    }
    got = {
        (r.name_a, r.name_b) for r in join_fuzzy_parts(spark, SF_SMOKE).collect()
    }
    assert got == expect and len(got) > 0
    for r in join_fuzzy_parts(spark, SF_SMOKE).collect():
        assert r.name_a < r.name_b and r.dist <= FUZZY_MAX_DIST
        assert r.name_a.split()[-1] == r.name_b.split()[-1]


def test_boilerplate_prefix_one_winner_per_source(spark):
    """One row per source; the winner is that source's modal 3-word prefix
    (ties lexicographic) with an exact integer share."""
    from collections import Counter

    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.text import (
        BOILER_K,
        text_boilerplate_prefix,
    )

    docs = load(spark, SF_SMOKE, "documents").collect()
    per_src = {}
    for r in docs:
        toks = r.text.lower().split()
        if len(toks) >= BOILER_K:
            per_src.setdefault(r.source, Counter())[
                " ".join(toks[:BOILER_K])
            ] += 1
    got = {r.source: r for r in text_boilerplate_prefix(spark, SF_SMOKE).collect()}
    assert set(got) == set(per_src)
    for src, ctr in per_src.items():
        best = min(ctr.items(), key=lambda kv: (-kv[1], kv[0]))
        r = got[src]
        assert (r.prefix, r.n_docs) == best
        assert r.share_ppm == (r.n_docs * 1_000_000) // sum(ctr.values())


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


def test_mix_ingest_matches_python_replay_and_is_idempotent(spark, tmp_path):
    """Streaming mixture sampler: the kept set must equal an independent
    python replay of the policy (cumulative ledger -> integer rates ->
    md5-hash membership), batches replay idempotently, and the ledger
    equals a direct recount."""
    import hashlib

    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.streaming.mix_ingest import (
        RATE_SCALE,
        TARGET_PPM,
        ingest_mix_batch,
        kept_docs,
        ledger,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    state = str(tmp_path / "mix")
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, part in enumerate(parts):
        ingest_mix_batch(spark, state, part, batch_id=i)

    # python replay of the exact policy
    def toks(t):
        return len([w for w in t.lower().split() if w])

    def h32(doc_id):
        return int(hashlib.md5(f"mix:{doc_id}".encode()).hexdigest()[:8], 16)

    rows = docs.collect()
    by_batch = {i: [r for r in rows if r.doc_id % 3 == i] for i in range(3)}
    cum = {}
    expect = set()
    for i in range(3):
        for r in by_batch[i]:
            cum[r.source] = cum.get(r.source, 0) + toks(r.text)
        total = sum(cum.values())
        rates = {}
        for src, tk in cum.items():
            share = tk * RATE_SCALE // total
            tgt = TARGET_PPM.get(src, 0)
            if share == 0:  # sub-ppm share: whole if targeted, else drop
                rates[src] = RATE_SCALE if tgt > 0 else 0
            else:
                rates[src] = min(RATE_SCALE, tgt * RATE_SCALE // share)
        for r in by_batch[i]:
            if h32(r.doc_id) % RATE_SCALE < rates[r.source]:
                expect.add(r.doc_id)

    got = {r.doc_id for r in kept_docs(spark, state).collect()}
    assert got == expect and got  # non-empty and exact
    # kept sources are exactly the targeted ones
    assert {r.source for r in kept_docs(spark, state).collect()} <= set(
        TARGET_PPM
    )

    # ledger equals a direct recount
    led = {r.source: r.tokens for r in ledger(spark, state).collect()}
    assert led == cum

    # crash-replay of the middle batch is byte-identical (same kept set)
    ingest_mix_batch(spark, state, parts[1], batch_id=1)
    assert {r.doc_id for r in kept_docs(spark, state).collect()} == expect


def test_mix_ingest_untargeted_subppm_source_drops(spark, tmp_path):
    """An UNTARGETED source whose cumulative tokens round to < 1 ppm of a
    mature ledger must still drop entirely (the module convention) — the
    zero-share pass-whole guard is for TARGETED sources only."""
    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.streaming.mix_ingest import (
        TARGET_PPM,
        ingest_mix_batch,
        kept_docs,
        ledger,
    )

    assert "rogue" not in TARGET_PPM
    targeted = next(iter(TARGET_PPM))
    state = str(tmp_path / "mix")
    # batch 0: a mature ledger — >1M tokens on a targeted source
    big_text = " ".join(["tok"] * 5000)
    b0 = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit(targeted).alias("source"),
        F.lit(big_text).alias("text"),
    )
    ingest_mix_batch(spark, state, b0, batch_id=0)
    # batch 1: a brand-new untargeted source with ONE token -> share_ppm 0
    b1 = spark.createDataFrame(
        [(9_000_001, "rogue", "solo")], "doc_id long, source string, text string"
    )
    ingest_mix_batch(spark, state, b1, batch_id=1)

    led = {r.source: r.tokens for r in ledger(spark, state).collect()}
    assert led["rogue"] * 1_000_000 // sum(led.values()) == 0  # truly sub-ppm
    kept = kept_docs(spark, state)
    assert kept.filter(F.col("source") == "rogue").count() == 0


def test_pack_concat_chunks_conserves_tokens_and_bins(spark):
    """Concat-then-chunk packing: token totals are conserved per source,
    bins number contiguously from 0, and straddle counts are sane."""
    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.packing import (
        PACK_BUDGET,
        pack_concat_chunks,
    )

    rows = pack_concat_chunks(spark, SF_SMOKE).collect()
    docs = load(spark, SF_SMOKE, "documents").collect()
    want = {}
    for r in docs:
        n = len([w for w in r.text.lower().split() if w])
        if n:
            want[r.source] = want.get(r.source, 0) + n
    got_tokens = {}
    bins = {}
    for r in rows:
        got_tokens[r.source] = got_tokens.get(r.source, 0) + r.n_tokens_started
        bins.setdefault(r.source, set()).add(r.bin)
        assert 0 <= r.n_straddling <= r.n_docs
    assert got_tokens == want
    for src, bs in bins.items():
        # every bin that STARTS a doc numbers within the token span;
        # bin 0 always starts docs
        assert 0 in bs
        assert max(bs) <= want[src] // PACK_BUDGET


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


def test_mix_ingest_streaming_path(spark, tmp_path):
    """The foreachBatch wiring: a 2-file json document stream drained with
    maxFilesPerTrigger=1 must leave the same state as direct batch calls
    with the same split."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.streaming.mix_ingest import (
        ingest_mix_batch,
        kept_docs,
        start_mix_ingest,
    )

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "source", "text")
        .limit(200)
        .collect()
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    halves = [docs[:100], docs[100:]]
    for i, half in enumerate(halves):
        with open(f"{src}/part{i}.json", "w") as f:
            for r in half:
                f.write(
                    _json.dumps(
                        {"doc_id": r.doc_id, "source": r.source, "text": r.text}
                    )
                    + "\n"
                )

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    state = str(tmp_path / "mix_stream")
    q = start_mix_ingest(spark, stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    ref_state = str(tmp_path / "mix_ref")
    for i, half in enumerate(halves):
        df = spark.createDataFrame(half, "doc_id long, source string, text string")
        ingest_mix_batch(spark, ref_state, df, batch_id=i)

    got = {r.doc_id for r in kept_docs(spark, state).collect()}
    want = {r.doc_id for r in kept_docs(spark, ref_state).collect()}
    assert got == want and got


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


def test_eval_pack_efficiency_consistent_with_packing(spark):
    """The gate's straddle counts equal the packer's, and truncate loss is
    strictly less than the token total."""
    from mysql_cdc_debezium_starrocks_spark.operators.packing import (
        eval_pack_efficiency,
        pack_concat_chunks,
    )

    gate = {r.source: r for r in eval_pack_efficiency(spark, SF_SMOKE).collect()}
    packs = pack_concat_chunks(spark, SF_SMOKE).collect()
    straddle = {}
    for r in packs:
        straddle[r.source] = straddle.get(r.source, 0) + r.n_straddling
    for src, r in gate.items():
        assert r.n_straddling == straddle.get(src, 0)
        assert 0 <= r.tokens_lost_if_truncate < r.n_tokens
        assert r.loss_ppm == r.tokens_lost_if_truncate * 1_000_000 // r.n_tokens
