"""Invariants of the near-duplicate operators (operators/dedup.py): the
duplicate-graph degree and triangle census, the precision/recall gate's
count algebra, and its threshold sweep.
"""

from mysql_cdc_debezium_starrocks_spark.operators.dedup import (
    dedup_graph_degree,
    dedup_graph_triangles,
    eval_minhash_pr,
    shared_dup_pairs,
)

from .conftest import SF_SMOKE


def test_graph_degree_handshake(spark):
    """Sum of degree*count over the histogram == 2x the pair count (every
    edge contributes one degree to each endpoint)."""
    n_pairs = shared_dup_pairs(spark, SF_SMOKE).count()
    hist = dedup_graph_degree(spark, SF_SMOKE).collect()
    assert sum(r.degree * r.n_docs for r in hist) == 2 * n_pairs


def test_triangle_census_invariants(spark):
    r = dedup_graph_triangles(spark, SF_SMOKE).collect()[0]
    n_pairs = shared_dup_pairs(spark, SF_SMOKE).count()
    assert r.n_edges == n_pairs
    # each triangle closes 3 wedges, so 3T <= W and transitivity in [0, 1]
    if r.n_wedges:
        assert 3 * r.n_triangles <= r.n_wedges
        assert 0 <= r.transitivity_q <= 1_000_000
    else:
        assert r.transitivity_q is None


def test_eval_pr_count_algebra(spark):
    r = eval_minhash_pr(spark, SF_SMOKE).collect()[0]
    assert r.tp + r.fn == r.n_truth
    assert r.tp + r.fp == r.n_pred
    for q in (r.precision_q, r.recall_q):
        assert q is None or 0 <= q <= 1_000_000


def test_eval_minhash_threshold_sweep_consistency(spark):
    """The tau = JACCARD_MIN row of the sweep must equal eval_minhash_pr
    exactly (the PR gate is one point on the curve — also pins the
    refactor over the shared minhash_eval_pairs frame), and the curve is
    monotone: n_truth/tp nonincreasing in tau, fp nondecreasing."""
    from mysql_cdc_debezium_starrocks_spark.operators.dedup import (
        JACCARD_MIN,
        SWEEP_TAUS_BP,
        eval_minhash_pr,
        eval_minhash_threshold_sweep,
    )

    pr = eval_minhash_pr(spark, SF_SMOKE).collect()[0]
    rows = {
        r.tau_bp: r
        for r in eval_minhash_threshold_sweep(spark, SF_SMOKE).collect()
    }
    assert sorted(rows) == sorted(SWEEP_TAUS_BP)
    at_min = rows[int(JACCARD_MIN * 10000)]
    assert (
        at_min.n_truth, at_min.n_pred, at_min.tp, at_min.fp, at_min.fn,
        at_min.precision_q, at_min.recall_q,
    ) == (pr.n_truth, pr.n_pred, pr.tp, pr.fp, pr.fn,
          pr.precision_q, pr.recall_q)
    ordered = [rows[t] for t in sorted(rows)]
    assert all(a.n_truth >= b.n_truth for a, b in zip(ordered, ordered[1:]))
    assert all(a.tp >= b.tp for a, b in zip(ordered, ordered[1:]))
    assert all(a.fp <= b.fp for a, b in zip(ordered, ordered[1:]))
    # n_pred is tau-independent (the prediction is the banding, fixed)
    assert len({r.n_pred for r in ordered}) == 1
