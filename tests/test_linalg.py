"""Tests for the distributed linear-algebra and new stats/text operators.

The oracle gate (tools/parity.py) already hash-checks emb_covariance,
ts_anomaly_zscore, hist_quantile_bins, text_repetition and
text_decontaminate; these tests cover the non-SQL-expressible PCA path
against numpy ground truth plus structural invariants, the integer
kernels' zero-matrix guard and a python replay of the embedding outlier
z-scores.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from mysql_cdc_debezium_starrocks_spark.catalog import load
from mysql_cdc_debezium_starrocks_spark.operators.linalg import (
    _int_power_iteration,
    _l2_quantize,
)
from tests._replay import _round_half_up, _tdiv
from tests.conftest import SF_SMOKE


def _embeddings_matrix(spark):
    rows = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def test_covariance_matches_numpy(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.linalg import emb_covariance

    x = _embeddings_matrix(spark)
    expected = np.cov(x, rowvar=False, bias=True)  # population covariance
    got = {(r["i"], r["j"]): float(r["cov"]) for r in emb_covariance(spark, SF_SMOKE).collect()}
    d = x.shape[1]
    assert len(got) == d * (d + 1) // 2
    for (i, j), v in got.items():
        assert v == pytest.approx(expected[i, j], abs=2e-6)


def test_pca_matches_numpy_eigh(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.linalg import fit_pca

    x = _embeddings_matrix(spark)
    mean, pcs = fit_pca(spark, SF_SMOKE, k=2)
    assert mean == pytest.approx(x.mean(axis=0), abs=1e-9)

    cov = np.cov(x, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    for c in range(2):
        ref = vecs[:, order[c]]
        # eigenvectors are sign-ambiguous; compare up to sign
        dot = abs(float(ref @ pcs[:, c]))
        assert dot == pytest.approx(1.0, abs=1e-8)
    # components are orthonormal
    assert pcs[:, 0] @ pcs[:, 1] == pytest.approx(0.0, abs=1e-9)


def test_power_iteration_aligns_with_eigh(spark):
    """The integer power-iteration eigenvector must align (|cosine| near 1)
    with numpy eigh's dominant eigenvector of the same covariance, and the
    sign convention must make the largest-|component| coordinate positive."""
    from mysql_cdc_debezium_starrocks_spark.operators.linalg import (
        POWER_SCALE,
        emb_top_eigenvector,
    )

    rows = emb_top_eigenvector(spark, SF_SMOKE).collect()
    v = np.zeros(len(rows))
    for r in rows:
        v[r["dim"]] = r["v_q"] / POWER_SCALE
    x = _embeddings_matrix(spark)
    cov = np.cov(x, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    top = vecs[:, np.argmax(vals)]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.999, cos
    assert v[np.abs(v).argmax()] > 0


def test_pca_projection_variance_ordering(spark):
    """The integer PCA (micro-unit pc1_q/pc2_q, oracle-backed since r06):
    PC1 projections must capture at least as much variance as PC2, both at
    least as much as a raw coordinate (top eigenpair property), the
    components near-orthogonal, and each integer projection must align
    with the float eigh projection of the same data."""
    from mysql_cdc_debezium_starrocks_spark.operators.linalg import (
        POWER_SCALE,
        _int_top2_components,
        emb_covariance,
        emb_pca_project,
        fit_pca,
    )

    rows = emb_pca_project(spark, SF_SMOKE).collect()
    pc1 = np.array([r["pc1_q"] / 1e6 for r in rows])
    pc2 = np.array([r["pc2_q"] / 1e6 for r in rows])
    x = _embeddings_matrix(spark)
    assert pc1.var() >= pc2.var() > 0
    assert pc1.var() >= x.var(axis=0).max() - 1e-4

    # quantized components: unit-ish L2 norm and near-orthogonality
    n1, n2 = _int_top2_components(emb_covariance(spark, SF_SMOKE).collect())
    a1 = np.array(n1) / POWER_SCALE
    a2 = np.array(n2) / POWER_SCALE
    assert abs(np.linalg.norm(a1) - 1) < 1e-3
    assert abs(np.linalg.norm(a2) - 1) < 1e-3
    assert abs(a1 @ a2) < 1e-2

    # alignment with the float reference: |corr| near 1 per component
    mean, pcs = fit_pca(spark, SF_SMOKE, k=2)
    ref1 = (x - mean) @ pcs[:, 0]
    ref2 = (x - mean) @ pcs[:, 1]
    order = np.argsort([r["vec_id"] for r in rows])
    assert abs(np.corrcoef(pc1[order], ref1)[0, 1]) > 0.999
    assert abs(np.corrcoef(pc2[order], ref2)[0, 1]) > 0.99


def test_repetition_bounds(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.text import text_repetition

    rows = text_repetition(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r["top2_frac"] is not None:
            assert 0 < float(r["top2_frac"]) <= 1
        if r["rep3_frac"] is not None:
            assert 0 <= float(r["rep3_frac"]) < 1


def test_decontaminate_excludes_eval_docs(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.text import (
        EVAL_SPLIT_MOD,
        text_decontaminate,
    )
    from mysql_cdc_debezium_starrocks_spark.functions import phash32

    import pyspark.sql.functions as F

    out = text_decontaminate(spark, SF_SMOKE)
    flagged = out.filter(
        phash32(F.col("doc_id"), "evalsplit") % EVAL_SPLIT_MOD == 0
    ).count()
    assert flagged == 0  # eval docs themselves are never reported
    assert out.count() > 0


def test_hist_quantile_brackets_exact_percentiles(spark):
    """Each histogram upper bound must be >= the exact percentile and within
    one bin width above it."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        HIST_BIN,
        hist_quantile_bins,
    )

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            *[
                __import__("pyspark.sql.functions", fromlist=["expr"]).expr(
                    f"percentile(l_extendedprice, {p}) as p{int(p*100)}"
                )
                for p in (0.5, 0.95, 0.99)
            ]
        )
        .collect()
    }
    for r in hist_quantile_bins(spark, SF_SMOKE).collect():
        e = exact[r["l_returnflag"]]
        for p in (50, 95, 99):
            ub = r[f"p{p}_ub"]
            assert ub >= e[f"p{p}"]
            assert ub - HIST_BIN <= e[f"p{p}"] + HIST_BIN


def test_pack_sequences_invariants(spark):
    """Shard-parallel FFD: capacity respected, every doc packed once,
    deterministic, and density within the FFD bound."""
    import math

    from mysql_cdc_debezium_starrocks_spark.operators.packing import (
        PACK_CAPACITY,
        PACK_SHARDS,
        pack_sequences,
    )

    rows = pack_sequences(spark, SF_SMOKE).collect()
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs

    fills = {}
    for r in rows:
        assert 0 < r["n_tokens"] <= PACK_CAPACITY
        assert r["bin_fill"] <= PACK_CAPACITY
        fills.setdefault((r["shard"], r["bin_id"]), 0)
        fills[(r["shard"], r["bin_id"])] += r["n_tokens"]
    # bin_fill column is consistent with the sum of members
    for r in rows:
        assert fills[(r["shard"], r["bin_id"])] == r["bin_fill"]

    # density: FFD uses at most ~11/9 OPT + 1 bins per shard
    total = sum(r["n_tokens"] for r in rows)
    lower = math.ceil(total / PACK_CAPACITY)
    assert len(fills) <= math.ceil(lower * 11 / 9) + PACK_SHARDS

    again = pack_sequences(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_power_iteration_rejects_zero_matrix():
    """Constant embeddings give a zero covariance; the integer kernels must
    raise a descriptive error, not ZeroDivisionError (advisor finding)."""
    with pytest.raises(ValueError, match="zero matrix"):
        _int_power_iteration({}, 4, 10)
    with pytest.raises(ValueError, match="zero vector"):
        _l2_quantize([0, 0, 0])
    # non-degenerate input still works (identity-ish matrix)
    v = _int_power_iteration({(i, i): 1_000_000 for i in range(4)}, 4, 5)
    assert any(x != 0 for x in v)
    assert _l2_quantize(v)


def test_emb_outlier_zscore_replay(spark):
    """Integer-moment replay: per-dim mean/sigma and worst-dimension
    milli-sigma scores, top-k order included."""
    from mysql_cdc_debezium_starrocks_spark.operators.linalg import (
        OUTLIER_TOPK,
        emb_outlier_zscore,
    )

    rows = load(spark, SF_SMOKE, "embeddings").collect()
    xq = {
        r.vec_id: [int(_round_half_up(x * 1e6)) for x in r.embedding]
        for r in rows
    }
    d = len(next(iter(xq.values())))
    n = len(xq)
    stats = []
    for k in range(d):
        col = [v[k] for v in xq.values()]
        sx, sxx = sum(col), sum(c * c for c in col)
        mean = _tdiv(sx, n)
        var = _tdiv(sxx, n) - mean * mean
        stats.append((mean, math.floor(math.sqrt(var))))
    scores = {
        vid: max(
            (abs(v[k] - stats[k][0]) * 1000) // max(stats[k][1], 1)
            for k in range(d)
        )
        for vid, v in xq.items()
    }
    order = sorted(scores, key=lambda v: (-scores[v], v))[:OUTLIER_TOPK]
    expect = [(v, scores[v]) for v in order]

    got = [
        (r.vec_id, r.max_z_milli)
        for r in emb_outlier_zscore(spark, SF_SMOKE).collect()
    ]
    assert got == expect
