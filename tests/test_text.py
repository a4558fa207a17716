"""Invariants of the text operators (operators/text.py) that value-level
parity (tools/parity.py) cannot express: BPE token conservation, encoding
bounds and merge application, hash embeddings, domain signatures, URL
canonicalization, the dedup funnel and boilerplate prefixes; python
replays of BM25, n-gram coverage and the quality/BPE threshold sweeps.
"""

from mysql_cdc_debezium_starrocks_spark.catalog import load
from mysql_cdc_debezium_starrocks_spark.operators.text import (
    BPE_ROUNDS,
    DOMSIG_TOPK,
    FUNNEL_STAGES,
    _bpe_state,
    corpus_curate,
    corpus_dedup_funnel,
    text_bpe_encode,
    text_bpe_merges,
    text_domain_signature,
    text_url_dedup,
)
from mysql_cdc_debezium_starrocks_spark.plans import (
    has_cartesian,
    partial_aggregates,
    plan_of,
)

from ._replay import _phash32, _qln, _words

from .conftest import SF_SMOKE


def test_bpe_token_conservation(spark):
    """Each application of a merge learned with pair_count n removes exactly
    n tokens from the corpus encoding, so after R rounds:
    total_bpe_tokens == total_chars_in_words - sum(pair_counts)."""
    merges = text_bpe_merges(spark, SF_SMOKE).collect()
    assert len(merges) == BPE_ROUNDS
    assert all(m.pair_count > 0 for m in merges)
    enc = text_bpe_encode(spark, SF_SMOKE)
    total_bpe = enc.groupBy().sum("n_bpe_tokens").collect()[0][0]
    state, _, _ = _bpe_state(spark, SF_SMOKE)
    total_chars = (
        state.selectExpr("sum(cnt * length(w)) AS c").collect()[0][0]
    )
    assert total_bpe == total_chars - sum(m.pair_count for m in merges)


def test_bpe_encode_bounds(spark):
    rows = text_bpe_encode(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # every word is >= 1 token and <= its character count
        assert r.n_words <= r.n_bpe_tokens
        assert r.tokens_per_word_q >= 1_000_000


def test_domain_signature_shape(spark):
    rows = text_domain_signature(spark, SF_SMOKE).collect()
    assert rows
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r)
        assert 1 <= r.rnk <= DOMSIG_TOPK
        assert r.tf_sw <= r.tf_w
        assert r.lift_q > 0
    for src, rs in per_src.items():
        # ranks are dense from 1 and ordered by (lift desc, tf desc, w)
        assert sorted(x.rnk for x in rs) == list(range(1, len(rs) + 1))


def test_url_dedup_canonical_form(spark):
    rows = text_url_dedup(spark, SF_SMOKE).collect()
    n_docs = load(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_variants for r in rows) == n_docs
    for r in rows:
        u = r.canonical_url
        assert "://" not in u and "#" not in u and "utm_" not in u
        assert not u.startswith("www.")
        assert not u.endswith("/")
        assert u == u.lower()
    # the 4 synthesized variants of each page collapse to one canonical
    assert all(r.n_variants == 4 for r in rows)


def test_funnel_monotone_and_matches_curate(spark):
    rows = {
        r.stage: r for r in corpus_dedup_funnel(spark, SF_SMOKE).collect()
    }
    assert set(rows) == set(FUNNEL_STAGES)
    # raw counts every document and all its tokens
    n_docs = load(spark, SF_SMOKE, "documents").count()
    assert rows["raw"].n_docs == n_docs
    assert rows["raw"].docs_ppm == 1_000_000
    assert rows["raw"].tokens_ppm == 1_000_000
    # each stage only removes
    for a, b in zip(FUNNEL_STAGES, FUNNEL_STAGES[1:]):
        assert rows[a].n_docs >= rows[b].n_docs
        assert rows[a].n_tokens >= rows[b].n_tokens
    # the funnel's final stage IS corpus_curate's keep-set
    assert rows["decontam"].n_docs == corpus_curate(spark, SF_SMOKE).count()


def test_bpe_self_pair_runs_merge_greedily(spark, tmp_path):
    """Self-pair merges (a == b) on odd/even runs must match reference
    left-to-right greedy: 'zzzzz' -> zz zz z (two merges, not ' zz z zz ').
    The delimiter-doubled single replace is exact greedy; the earlier
    two-pass form diverged here (also fuzz-proven equal to a reference
    implementation over 200k random token runs)."""
    from pyspark.sql import Row

    from mysql_cdc_debezium_starrocks_spark.operators.text import _bpe_state

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="zzzzz zzzzzz z", lang="en", source="s",
             n_chars=14) for i in range(5)]
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    state, outs, _ = _bpe_state(spark, str(tmp_path))
    first = outs[0].collect()[0]
    assert (first.left_sym, first.right_sym) == ("z", "z")
    enc = {r.w: r.s for r in state.collect()}
    # round 1 (z,z) greedy: zzzzz -> zz zz z; zzzzzz -> zz zz zz;
    # round 2 (zz,zz): -> zzzz z / zzzz zz; round 3 merges what remains
    assert enc["z"].split() == ["z"]
    # whatever the later rounds learned, token streams must stay greedy-
    # consistent: recompute with a reference greedy merger over the rounds
    merges = [(o.collect()[0].left_sym, o.collect()[0].right_sym)
              for o in outs if o.collect()]

    def ref_encode(word):
        toks = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    for word, s in enc.items():
        assert s.split() == ref_encode(word), (word, s, ref_encode(word))


def test_bpe_merge_application_handles_runs(spark, tmp_path):
    """Back-to-back occurrences of the winning pair must ALL merge (the
    single left-to-right replace consumes the shared delimiter and skips
    every other one; the delimiter-doubled form is exact greedy)."""
    from pyspark.sql import Row

    from mysql_cdc_debezium_starrocks_spark.operators.text import _bpe_state

    docs = spark.createDataFrame(
        # 'xy' dominates the pair counts; 'xyxyxy' is the run case
        [Row(doc_id=i, text="xy xy xy xyxyxy", lang="en", source="s",
             n_chars=15) for i in range(5)]
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    state, outs, _ = _bpe_state(spark, str(tmp_path))
    first = outs[0].collect()[0]
    assert (first.left_sym, first.right_sym) == ("x", "y")
    # round 2 learns (xy, xy): BOTH its occurrences inside 'xy xy xy' merge
    # (count 10 = 2 per word x 5 docs), so round 3 learns (xyxy, xy)
    second = outs[1].collect()[0]
    assert (second.left_sym, second.right_sym, second.pair_count) == (
        "xy", "xy", 10,
    )
    third = outs[2].collect()[0]
    assert (third.left_sym, third.right_sym) == ("xyxy", "xy")
    enc = {r.w: r.s for r in state.collect()}
    # vocab exhausted after 3 rounds: later no-pair rounds must leave the
    # state intact (a crossJoin against an empty best annihilated it)
    assert enc["xyxyxy"].split() == ["xyxyxy"]
    assert enc["xy"].split() == ["xy"]
    assert all(not o.collect() for o in outs[3:])


def test_hash_embed_invariants(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.text import (
        HASH_DIM,
        text_hash_embed,
    )
    from mysql_cdc_debezium_starrocks_spark.operators.text import (
        text_token_count,
    )

    rows = text_hash_embed(spark, SF_SMOKE).collect()
    assert rows
    total_tokens = sum(
        r.tokens_ws for r in text_token_count(spark, SF_SMOKE).collect()
    )
    l1_total = 0
    for r in rows:
        vec = [int(x) for x in r.vec.split(",")]
        assert len(vec) == HASH_DIM
        assert r.l1 == sum(abs(x) for x in vec)
        # signed collisions can only CANCEL mass, never create it
        assert r.l1 >= 0
        l1_total += r.l1
    assert l1_total <= total_tokens


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


def test_text_bm25_replay(spark):
    """Exact integer BM25 replay (k1=1.2, b=0.75, quantized idf)."""
    from mysql_cdc_debezium_starrocks_spark.operators.text import (
        BM25_QUERY,
        BM25_TOPK,
        text_bm25_topk,
    )

    docs = load(spark, SF_SMOKE, "documents").collect()
    n_docs = len(docs)
    dls = {r.doc_id: len(_words(r.text)) for r in docs}
    sum_dl = sum(dls.values())
    avgdl_mil = (sum_dl * 1000) // n_docs
    tf: dict = {}
    for r in docs:
        for t in _words(r.text):
            if t in BM25_QUERY:
                tf[(r.doc_id, t)] = tf.get((r.doc_id, t), 0) + 1
    df: dict = {}
    for (d, t) in tf:
        df[t] = df.get(t, 0) + 1
    scores: dict = {}
    hits: dict = {}
    for (d, t), f in tf.items():
        idf_q = _qln((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
        lnorm_q = 250 + (750 * dls[d] * 1000) // avgdl_mil
        s = (idf_q * f * 2200) // (f * 1000 + (1200 * lnorm_q) // 1000)
        scores[d] = scores.get(d, 0) + s
        hits[d] = hits.get(d, 0) + 1
    order = sorted(scores, key=lambda d: (-scores[d], d))[:BM25_TOPK]
    expect = [(d, scores[d], hits[d], dls[d]) for d in order]

    got = [
        (r.doc_id, r.score_micro, r.n_terms_hit, r.dl)
        for r in text_bm25_topk(spark, SF_SMOKE).collect()
    ]
    assert got == expect


def test_text_bm25_plan(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.text import text_bm25_topk

    p = plan_of(text_bm25_topk(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    assert partial_aggregates(p)
    assert not has_cartesian(p)


def test_eval_quality_threshold_sweep_consistency(spark):
    """Sweep rows replay exactly from the quality frame; counts are
    monotone nonincreasing in the threshold and t=0 keeps everything."""
    from mysql_cdc_debezium_starrocks_spark.operators.text import (
        QSWEEP_STEP_BP,
        QSWEEP_STEPS,
        eval_quality_threshold_sweep,
        text_quality,
    )

    q = text_quality(spark, SF_SMOKE).select("n_words", "quality").collect()
    buckets = [[0, 0] for _ in range(QSWEEP_STEPS)]
    for r in q:
        b = min(int(r.quality * 10000) // QSWEEP_STEP_BP, QSWEEP_STEPS - 1)
        buckets[b][0] += 1
        buckets[b][1] += r.n_words
    total_docs = sum(b[0] for b in buckets)
    total_toks = sum(b[1] for b in buckets)
    expect = {}
    for t in range(QSWEEP_STEPS):
        nd = sum(b[0] for b in buckets[t:])
        tk = sum(b[1] for b in buckets[t:])
        expect[t * (QSWEEP_STEP_BP // 100)] = (
            nd,
            tk,
            (nd * 1_000_000) // total_docs,
            (tk * 1_000_000) // total_toks,
        )

    rows = eval_quality_threshold_sweep(spark, SF_SMOKE).collect()
    got = {
        r.thr_centi: (
            r.n_docs_kept,
            r.tokens_kept,
            r.docs_kept_ppm,
            r.tokens_kept_ppm,
        )
        for r in rows
    }
    assert got == expect
    assert len(rows) == QSWEEP_STEPS  # every threshold row emitted
    ordered = [got[k] for k in sorted(got)]
    assert all(a[0] >= b[0] for a, b in zip(ordered, ordered[1:]))
    assert ordered[0][2] == 1_000_000 and ordered[0][3] == 1_000_000


def test_text_ngram_coverage_replay(spark):
    """Set replay of the eval-side coverage profile; ppm bounded."""
    from mysql_cdc_debezium_starrocks_spark.operators.text import (
        EVAL_SPLIT_MOD,
        text_ngram_coverage,
    )

    docs = load(spark, SF_SMOKE, "documents").collect()
    ev_grams: dict = {}
    tr_grams: set = set()
    for r in docs:
        w = _words(r.text)
        g = {" ".join(w[i : i + 4]) for i in range(len(w) - 3)}
        if _phash32(str(r.doc_id), "evalsplit") % EVAL_SPLIT_MOD == 0:
            ev_grams[r.doc_id] = g
        else:
            tr_grams.update(g)
    expect = {}
    for d_, g in ev_grams.items():
        if not g:
            continue
        cov = len(g & tr_grams)
        expect[d_] = (len(g), cov, (cov * 1_000_000) // len(g))

    got = {
        r.doc_id: (r.n_grams, r.n_covered, r.coverage_ppm)
        for r in text_ngram_coverage(spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert all(0 <= c[2] <= 1_000_000 for c in got.values())


def test_eval_bpe_compression_sweep(spark):
    """Rank-0 equals the exact character-split baseline; every merge can
    only shorten encodings (monotone nonincreasing); the final rank
    reconciles exactly with text_bpe_encode's per-doc totals."""
    from mysql_cdc_debezium_starrocks_spark.operators.text import (
        BPE_ROUNDS,
        eval_bpe_compression_sweep,
        text_bpe_encode,
    )

    rows = {r.rank: r for r in eval_bpe_compression_sweep(spark, SF_SMOKE).collect()}
    assert sorted(rows) == list(range(BPE_ROUNDS + 1))

    docs = load(spark, SF_SMOKE, "documents").collect()
    words_all = [w for r in docs for w in _words(r.text)]
    assert rows[0].total_words == len(words_all)
    assert rows[0].total_bpe_tokens == sum(len(w) for w in words_all)

    ordered = [rows[r] for r in sorted(rows)]
    assert all(
        a.total_bpe_tokens >= b.total_bpe_tokens
        for a, b in zip(ordered, ordered[1:])
    )
    assert all(r.total_words == rows[0].total_words for r in ordered)

    enc = text_bpe_encode(spark, SF_SMOKE).agg(
        {"n_words": "sum", "n_bpe_tokens": "sum"}
    ).collect()[0]
    assert rows[BPE_ROUNDS].total_words == enc["sum(n_words)"]
    assert rows[BPE_ROUNDS].total_bpe_tokens == enc["sum(n_bpe_tokens)"]
