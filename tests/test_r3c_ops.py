"""Semantic invariants of the round-3 third-batch operators — windowed PMI
co-occurrence and per-source KS drift (value-level parity is tools/parity.py;
these pin the properties a hash can't express)."""

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.catalog import load
from mysql_cdc_debezium_starrocks_spark.operators.stats import (
    PMI_MIN_SUP,
    stats_ks_by_source,
    text_pmi_cooccur,
)

from .conftest import SF_SMOKE


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


def test_ann_recall_eval_invariants(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        IVF_TOPK,
        eval_ann_recall,
    )

    rows = eval_ann_recall(spark, SF_SMOKE).collect()
    assert {r.index_name for r in rows} == {"ivf", "lsh", "ivfpq"}
    for r in rows:
        assert r.n_truth == IVF_TOPK
        assert 0 <= r.hits <= min(r.n_pred, r.n_truth)
        assert 0 <= r.recall_ppm <= 1_000_000
        assert r.recall_ppm == (r.hits * 1_000_000) // r.n_truth
    # the pruned indexes must actually find something on the fixture —
    # a 0-recall index would mean the cell/bucket params are broken
    assert sum(r.hits for r in rows if r.index_name == "ivf") > 0
    # IVF-PQ probes the same cells as IVF but scores with quantized ADC
    # distances — it may lose recall to quantization but the floor is the
    # same gate IVF carries: the composed index must find real neighbors
    assert sum(r.hits for r in rows if r.index_name == "ivfpq") > 0
    # and its candidate pool equals IVF's (same cells), so n_pred matches
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.index_name] = r.n_pred
    for q, m in by_q.items():
        if "ivf" in m and "ivfpq" in m:
            assert m["ivfpq"] == m["ivf"], (q, m)


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
