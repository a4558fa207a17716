"""Invariants of the near-duplicate operators (operators/dedup.py): the
duplicate-graph degree and triangle census, and the precision/recall
gate's count algebra.
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
