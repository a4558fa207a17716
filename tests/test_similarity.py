"""Invariants of the vector-search operators (operators/similarity.py)
beyond value-level parity (tools/parity.py): product-quantization ADC
distances, IVF-PQ search and exact re-rank, MRR/balance/silhouette gates,
diversity pruning, the cosine pair histogram with its corpus-scaled
bucket rule, and the ANN-recall and dimension-budget recall gates.
"""

import math
from collections import defaultdict

import numpy as np

from mysql_cdc_debezium_starrocks_spark.catalog import load
from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
    CPH_MIN_BUCKETS,
    CPH_TARGET_BUCKET_ROWS,
    PQ_SUB,
    PQ_SUBDIM,
    PQ_TOPK,
    _cph_buckets,
    ann_ivfpq_search,
    ann_pq_search,
    emb_pq_codes,
    eval_ivf_balance,
)

from ._replay import _phash32
from .conftest import SF_SMOKE


def test_pq_adc_equals_reconstruction_distance(spark):
    """ADC(q, x) is BY CONSTRUCTION the exact squared L2 distance between q
    and x's PQ reconstruction — verify numerically against numpy."""
    res = {(r.qid, r.vec_id): float(r.adc_dist)
           for r in ann_pq_search(spark, SF_SMOKE).collect()}
    assert res
    codes = {r.vec_id: [r[f"code{s}"] for s in range(PQ_SUB)]
             for r in emb_pq_codes(spark, SF_SMOKE).collect()}
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()}
    for (qid, vid), adc in list(res.items())[:50]:
        recon = np.concatenate([
            emb[codes[vid][s]][s * PQ_SUBDIM:(s + 1) * PQ_SUBDIM]
            for s in range(PQ_SUB)
        ])
        true = float(np.sum((emb[qid] - recon) ** 2))
        assert abs(adc - true) < 1e-4, (qid, vid, adc, true)


def test_pq_search_topk_shape(spark):
    rows = ann_pq_search(spark, SF_SMOKE).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append(r.rank)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, PQ_TOPK + 1)), qid


def test_ivfpq_topk_shape_and_adc_consistency(spark):
    ivfpq = ann_ivfpq_search(spark, SF_SMOKE).collect()
    assert ivfpq
    by_q = {}
    for r in ivfpq:
        by_q.setdefault(r.qid, []).append(r)
    for q, rs in by_q.items():
        assert len(rs) <= PQ_TOPK
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
    # ADC is the same metric the corpus-wide PQ scan uses: any (qid, vec)
    # present in both result sets must carry the identical distance
    full = {
        (r.qid, r.vec_id): r.adc_dist
        for r in ann_pq_search(spark, SF_SMOKE).collect()
    }
    both = 0
    for r in ivfpq:
        if (r.qid, r.vec_id) in full:
            assert full[(r.qid, r.vec_id)] == r.adc_dist
            both += 1
    assert both > 0


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


def test_ivf_balance_invariants(spark):
    r = eval_ivf_balance(spark, SF_SMOKE).collect()[0]
    assert r.n_vectors == load(spark, SF_SMOKE, "embeddings").count()
    assert 0 < r.min_cell <= r.max_cell
    assert r.imbalance_ppm >= 1_000_000  # max >= mean by definition


def test_prune_diversity_keeps_farthest_quartile_per_cell(spark):
    """Kept set is exactly ceil(25%) per cell, and every kept distance
    dominates every dropped distance within its cell (ties by vec_id)."""
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        PRUNE_KEEP_PCT,
        ann_kmeans_assign,
        emb_prune_diversity,
    )

    kept = emb_prune_diversity(spark, SF_SMOKE).collect()
    full = ann_kmeans_assign(spark, SF_SMOKE).collect()
    by_cell = {}
    for r in full:
        by_cell.setdefault(r.cell, []).append((r.sq_dist_q, -r.vec_id))
    kept_by_cell = {}
    for r in kept:
        kept_by_cell.setdefault(r.cell, []).append((r.sq_dist_q, -r.vec_id))
    for cell, rows in by_cell.items():
        want = math.ceil(len(rows) * PRUNE_KEEP_PCT / 100)
        got = kept_by_cell.get(cell, [])
        assert len(got) == want, cell
        # kept = the top-`want` by (distance desc, vec_id asc)
        assert sorted(got, reverse=True) == sorted(rows, reverse=True)[:want]


def test_cosine_pair_histogram_properties(spark):
    """Histogram integrity: bins within [-10, 10], pair count equals the
    blocked-pair count, and the mass distribution matches a direct python
    pass over the same blocked pairs."""
    import numpy as np

    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        _cph_buckets,
        emb_cosine_pair_histogram,
    )

    rows = emb_cosine_pair_histogram(spark, SF_SMOKE).collect()
    assert rows and all(-10 <= r.bin <= 10 for r in rows)

    vecs = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    n_buckets = _cph_buckets(len(vecs))
    by_bkt = defaultdict(list)
    for r in vecs:
        by_bkt[_phash32(str(r.vec_id), "cph") % n_buckets].append(
            np.asarray(r.embedding, dtype=np.float64)
        )
    hist = defaultdict(int)
    n_pairs = 0
    for vs in by_bkt.values():
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                c = round(
                    float(
                        vs[i] @ vs[j]
                        / (np.linalg.norm(vs[i]) * np.linalg.norm(vs[j]))
                    ),
                    6,
                )
                hist[math.floor(c * 10)] += 1
                n_pairs += 1
    got = {r.bin: r.n_pairs for r in rows}
    assert sum(got.values()) == n_pairs
    # per-bin counts match up to boundary rounding (cosine rounded at 1e-6
    # in-engine vs python round-half-even — identical here in practice)
    assert got == dict(hist)


def test_cph_bucket_rule_floor_and_linear_growth():
    # tiny corpora keep the floor (meaningful pair sample at fixture SFs)
    assert _cph_buckets(0) == CPH_MIN_BUCKETS
    assert _cph_buckets(500) == CPH_MIN_BUCKETS
    assert _cph_buckets(2000) == CPH_MIN_BUCKETS
    assert _cph_buckets(32 * CPH_TARGET_BUCKET_ROWS) == 32
    # past the floor, B ~ n/256: expected pair work B*C(n/B,2) ~ 128n,
    # LINEAR in n — the r06 verdict's fixed-B=32 was n^2/32
    assert _cph_buckets(200_000) == 782
    assert _cph_buckets(3_200_000) == 12_500
    # exact integer ceil (the oracle computes (n + 255) // 256 in SQL)
    for n in (8191, 8192, 8193, 8447, 8448, 8449):
        assert _cph_buckets(n) == max(
            CPH_MIN_BUCKETS,
            (n + CPH_TARGET_BUCKET_ROWS - 1) // CPH_TARGET_BUCKET_ROWS,
        )


def test_cph_bucket_rule_matches_oracle_sql():
    """The DuckDB-side derivation inside the oracle must agree with the
    python rule at every boundary (greatest + integer-divide ceil)."""
    import duckdb

    con = duckdb.connect()
    for n in (1, 500, 2000, 8192, 8193, 200_000, 3_200_000):
        got = con.execute(
            f"SELECT greatest({CPH_MIN_BUCKETS}, "
            f"CAST(({n} + {CPH_TARGET_BUCKET_ROWS - 1}) "
            f"// {CPH_TARGET_BUCKET_ROWS} AS BIGINT))"
        ).fetchone()[0]
        assert got == _cph_buckets(n), n


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


def test_emb_dim_budget_recall_invariants(spark):
    """The full-dim budget must recover exactly the brute-force truth
    (recall 1e6 — its prefix IS the full vector), every budget predicts
    exactly k per query, and recall is a valid ppm."""
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        DIM,
        DIM_BUDGETS,
        IVF_TOPK,
        emb_dim_budget_recall,
    )

    rows = {r.dim_budget: r for r in emb_dim_budget_recall(spark, SF_SMOKE).collect()}
    assert sorted(rows) == sorted(DIM_BUDGETS)
    n_queries = {r.n_queries for r in rows.values()}
    assert len(n_queries) == 1 and n_queries.pop() > 0
    for d, r in rows.items():
        assert r.n_pred == r.n_queries * IVF_TOPK
        assert 0 <= r.hits <= r.n_pred
        assert 0 <= r.recall_ppm <= 1_000_000
    assert rows[DIM].recall_ppm == 1_000_000  # self-check budget
