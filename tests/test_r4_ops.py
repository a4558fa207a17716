"""Round-4 operators: exact-rerank IVF-PQ, retrieval MRR gate, Zipf vocab
coverage, source-concentration Gini, perceptual image hashing.  Value-level
cross-engine parity is tools/parity.py; these test the operator-level
invariants the oracles can't express.
"""

from .conftest import SF_SMOKE


def test_ivfpq_refine_never_loses_recall_to_adc(spark):
    """Exact re-rank of an ADC-shortlist superset can only keep or improve
    per-query recall vs the plain ADC top-k (any shortlist member that
    out-ranks a true neighbor in exact cosine is itself a true neighbor)."""
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        IVF_TOPK,
        ann_bruteforce_topk,
        ann_ivfpq_refine,
        ann_ivfpq_search,
    )

    truth = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce_topk(spark, SF_SMOKE)
        .filter(f"rank <= {IVF_TOPK}")
        .collect()
    }
    adc_hits, ref_hits = {}, {}
    for r in ann_ivfpq_search(spark, SF_SMOKE).collect():
        adc_hits[r.qid] = adc_hits.get(r.qid, 0) + (
            (r.qid, r.vec_id) in truth
        )
    for r in ann_ivfpq_refine(spark, SF_SMOKE).collect():
        ref_hits[r.qid] = ref_hits.get(r.qid, 0) + (
            (r.qid, r.neighbor_id) in truth
        )
    assert ref_hits and set(ref_hits) == set(adc_hits)
    for q in adc_hits:
        assert ref_hits[q] >= adc_hits[q], q
    # the refined ranks themselves are exact-cosine ordered: rank 1..k dense
    rows = ann_ivfpq_refine(spark, SF_SMOKE).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_retrieval_mrr_invariants(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        eval_retrieval_mrr,
    )

    rows = eval_retrieval_mrr(spark, SF_SMOKE).collect()
    assert {r.index_name for r in rows} <= {"ivf", "lsh", "ivfpq"}
    assert any(r.index_name == "ivf" for r in rows)
    for r in rows:
        assert 0 < r.mrr_ppm <= 1_000_000
        assert 0 < r.answered <= r.n_queries
        # MRR can't exceed recall-weighted perfect ranking: answered/n * 1e6
        assert r.mrr_ppm <= (r.answered * 1_000_000) // r.n_queries


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


def test_image_phash_shape_and_dupes(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.multimodal import (
        PHASH_MAX_HAMMING,
        mm_image_phash,
        mm_phash_dupes,
    )

    rows = mm_image_phash(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert len(r.phash_bits) == 64
        assert set(r.phash_bits) <= {"0", "1"}
        assert r.n_ones == r.phash_bits.count("1")

    ph = {r.doc_id: r.phash_bits for r in rows}
    dupes = mm_phash_dupes(spark, SF_SMOKE).collect()
    assert dupes  # the fixture's duplicated docs share 192-byte prefixes
    for d in dupes:
        assert d.doc_a < d.doc_b
        true_h = sum(
            1 for x, y in zip(ph[d.doc_a], ph[d.doc_b]) if x != y
        )
        assert d.hamming == true_h <= PHASH_MAX_HAMMING


def test_materialize_ann_artifacts_roundtrip(spark, tmp_path):
    """The parquet-backed index must serve every ANN consumer with values
    identical to the freshly built artifacts (search-the-materialized-form
    contract), and the registered artifacts must actually be the parquet
    frames."""
    from mysql_cdc_debezium_starrocks_spark.operators._artifacts import clear
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        ann_ivf_topk,
        ann_ivfpq_search,
        materialize_ann_artifacts,
    )

    fresh_ivf = sorted(tuple(r) for r in ann_ivf_topk(spark, SF_SMOKE).collect())
    fresh_pq = sorted(
        tuple(r) for r in ann_ivfpq_search(spark, SF_SMOKE).collect()
    )

    paths = materialize_ann_artifacts(spark, SF_SMOKE, str(tmp_path / "ann"))
    assert set(paths) == {"ivf_index", "ivf_probes", "pq_codes", "ann_truth"}
    import os

    for p in paths.values():
        assert os.path.isdir(p)
    # consumers now read the parquet-backed artifacts — same values
    assert (
        sorted(tuple(r) for r in ann_ivf_topk(spark, SF_SMOKE).collect())
        == fresh_ivf
    )
    assert (
        sorted(tuple(r) for r in ann_ivfpq_search(spark, SF_SMOKE).collect())
        == fresh_pq
    )
    # and a cold session-cache still resolves through parquet contents:
    # clear the memo, re-materialize nothing, verify a fresh build matches
    clear()
    assert (
        sorted(tuple(r) for r in ann_ivf_topk(spark, SF_SMOKE).collect())
        == fresh_ivf
    )


def test_phash_components_consistent_with_pairs(spark):
    """Every pHash dup pair lands in one component; component_id is the
    cluster minimum (same contract as dedup_components)."""
    from mysql_cdc_debezium_starrocks_spark.operators.multimodal import (
        mm_phash_components,
        mm_phash_dupes,
    )

    comp = {
        r.doc_id: r.component_id
        for r in mm_phash_components(spark, SF_SMOKE).collect()
    }
    pairs = [
        (r.doc_a, r.doc_b) for r in mm_phash_dupes(spark, SF_SMOKE).collect()
    ]
    assert pairs and comp
    for a, b in pairs:
        assert comp[a] == comp[b], (a, b)
    # component_id is the min member id
    members = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    for c, ds in members.items():
        assert c == min(ds)


def test_kmeans_silhouette_consistent_with_assignment(spark):
    """Cell counts must match the assignment; silhouette stays in
    [-1e6, 1e6]; and because b2 >= a2 by argmin construction, every mean
    is non-negative."""
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        ann_kmeans_assign,
        eval_kmeans_silhouette,
    )

    sil = {r.cell: (r.n, r.mean_silhouette_q)
           for r in eval_kmeans_silhouette(spark, SF_SMOKE).collect()}
    counts = {}
    for r in ann_kmeans_assign(spark, SF_SMOKE).collect():
        counts[r.cell] = counts.get(r.cell, 0) + 1
    assert set(sil) == set(counts)
    for c, (n, s) in sil.items():
        assert n == counts[c]
        assert 0 <= s <= 1_000_000, (c, s)


def test_phash_pr_gate_invariants(spark):
    """The 7-band pigeonhole truth is complete by construction, so tp+fn =
    n_truth and every mm_phash_dupes pair is in truth; 4 bands guarantee
    radius 3, so recall is high but precision < 1 (band collisions beyond
    the radius are exactly what the gate counts)."""
    from mysql_cdc_debezium_starrocks_spark.operators.multimodal import (
        eval_phash_pr,
        mm_phash_dupes,
    )

    [r] = eval_phash_pr(spark, SF_SMOKE).collect()
    assert r.tp + r.fn == r.n_truth
    assert r.tp + r.fp == r.n_pred
    assert r.n_truth == mm_phash_dupes(spark, SF_SMOKE).count()
    assert r.recall_ppm >= 900_000  # 4 bands: radius-3 guaranteed, 4-6 high
    assert 0 < r.precision_ppm < 1_000_000
