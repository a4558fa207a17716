"""Invariants of the sequence-packing operators (operators/packing.py):
token conservation in concat-chunk packing and the packing-efficiency
report.
"""

from .conftest import SF_SMOKE


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
