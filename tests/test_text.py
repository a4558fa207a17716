"""Invariants of the text operators (operators/text.py) that value-level
parity (tools/parity.py) cannot express: BPE token conservation and
encoding bounds, domain signatures, URL canonicalization and the dedup
funnel.
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
