"""Distributed linear algebra over the ``embeddings`` fixture.

The scale pattern here is **partition-local dense math, tiny global combine**:
each input split folds its rows into fixed-size sufficient statistics
(count, column sums, X^T X) inside an Arrow-batched ``mapInPandas``; what
crosses the shuffle is one small row per partition, never the data.  At
100 TB this is exactly MLlib's treeAggregate shape — compute cost scans the
splits, network cost is O(partitions * d^2) doubles.

- ``emb_covariance``: the (population) covariance matrix entry list
  (i <= j), assembled fully distributed: partial moments -> posexplode ->
  per-index sums -> arithmetic.  Products are accumulated in float64 on
  both engines, so the DuckDB oracle matches to well past the rounded
  6 decimals.
- ``emb_pca_project``: top-2 principal components by INTEGER power
  iteration with deflation (the quantized-fixpoint idiom of
  ``emb_top_eigenvector`` extended to two components, VERDICT r05 #5),
  then a JVM-side zip_with projection of every quantized embedding onto
  the integer PCs.  Every step is add/mul/truncating-div on integers
  (plus one correctly-rounded IEEE sqrt for the L2 renormalization — the
  mix_temperature idiom), so the DuckDB oracle reproduces every
  projection exactly and the operator is hash-checkable, not rows-only.
  ``fit_pca`` (numpy eigh) remains the float reference the tests compare
  against.

Reference scope note: the reference pipeline (benchmark.sh, SURVEY.md §2.4)
has no vector math at all — this module is part of the training-data
extension surface (embedding-space analysis / whitening / SemDeDup-style
prep).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_spread
from ._artifacts import artifact
from .similarity import _tdiv

DIM = 64  # fixture embedding dimensionality (FIXTURES.md §C)

_PARTIALS_SCHEMA = "n long, sx array<double>, sxx array<double>"


def _cov_partials(batches):
    """Fold one partition's rows into (n, column sums, flattened X^T X)."""
    n = 0
    sx = None
    sxx = None
    for pdf in batches:
        if not len(pdf):
            continue
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        if sx is None:
            sx = np.zeros(x.shape[1])
            sxx = np.zeros((x.shape[1], x.shape[1]))
        n += x.shape[0]
        sx += x.sum(axis=0)
        sxx += x.T @ x
    if n:
        yield pd.DataFrame(
            {"n": [n], "sx": [sx.tolist()], "sxx": [sxx.ravel().tolist()]}
        )


def _partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized ("emb_partials"): the per-partition sufficient
    statistics are O(partitions x d^2) doubles — bounded — but the build
    is a full corpus pass that ``emb_covariance`` (three consumers inside
    one plan), ``emb_pca_project`` / ``emb_top_eigenvector`` (eager
    driver collects at query construction) and :func:`fit_pca` each
    re-ran per invocation (r08; the shared_dup_pairs pattern)."""
    def build() -> DataFrame:
        emb = load_spread(spark, sf_dir, "embeddings").select("embedding")
        return emb.mapInPandas(_cov_partials, schema=_PARTIALS_SCHEMA)

    return artifact(spark, sf_dir, "emb_partials", build)


def _int_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized ("emb_int_moments"): per-dimension EXACT integer
    moments (k, n, sx, sxx) of the 1e-6-quantized elements — d rows.  The
    build is a corpus-scale posexplode that ``emb_pca_project``'s
    centering pass and ``emb_outlier_zscore``'s z-moments each re-ran per
    invocation (r08)."""
    def build() -> DataFrame:
        emb = load_spread(spark, sf_dir, "embeddings")
        el = emb.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "k", "x"
            )
        ).select("k", F.round(F.col("x") * 1e6).cast("long").alias("xq"))
        return el.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xq").alias("sx"),
            F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        )

    return artifact(spark, sf_dir, "emb_int_moments", build)


def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance entries cov(i, j) for i <= j, fully distributed
    (see module docstring)."""
    p = _partials(spark, sf_dir)
    tot = p.agg(F.sum("n").alias("nn"))
    sums = (
        p.select(F.posexplode("sx").alias("k", "s"))
        .groupBy("k")
        .agg(F.sum("s").alias("s"))
    )
    prods = (
        p.select(F.posexplode("sxx").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("sxy"))
    )
    ij = prods.select(
        F.floor(F.col("idx") / DIM).cast("int").alias("i"),
        (F.col("idx") % DIM).cast("int").alias("j"),
        "sxy",
    ).filter(F.col("i") <= F.col("j"))
    si = sums.select(F.col("k").alias("i"), F.col("s").alias("si"))
    sj = sums.select(F.col("k").alias("j"), F.col("s").alias("sj"))
    n = F.col("nn").cast("double")
    cov = (F.col("sxy") - F.col("si") * F.col("sj") / n) / n
    return (
        ij.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(tot))
        .select("i", "j", F.round(cov, 6).cast("decimal(18,6)").alias("cov"))
    )


def fit_pca(spark: SparkSession, sf_dir: str, k: int = 2) -> tuple[np.ndarray, np.ndarray]:
    """Collect the tiny (d x d) moment matrices and eigendecompose on the
    driver.  Returns (mean vector, top-k eigenvector matrix d x k),
    sign-fixed so each component's largest-|entry| coordinate is positive."""
    rows = _partials(spark, sf_dir).collect()
    n = sum(r["n"] for r in rows)
    sx = np.sum([np.asarray(r["sx"]) for r in rows], axis=0)
    sxx = np.sum([np.asarray(r["sxx"]) for r in rows], axis=0)
    d = sx.shape[0]
    mean = sx / n
    cov = sxx.reshape(d, d) / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    top = vecs[:, np.argsort(vals)[::-1][:k]]
    for c in range(top.shape[1]):
        if top[np.abs(top[:, c]).argmax(), c] < 0:
            top[:, c] = -top[:, c]
    return mean, top


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the top-2 INTEGER principal components
    (centered), in micro-units — the oracle-checkable PCA (VERDICT r05 #5).

    The PCs come from :func:`_int_top2_components` (integer power
    iteration + deflation over the exact DECIMAL covariance — driver math
    on a d x d integer matrix, exactly reproduced by the unrolled-CTE
    DuckDB oracle).  Per-dimension integer means (``sum(xq) div n``) center
    the quantized elements; the projection is a zip_with/aggregate fold
    over literal integer arrays entirely inside codegen — ONE map-only
    scan, no Python, no shuffle (the mean agg is a 64-row job).  At 100 TB
    the scan dominates and parallelizes perfectly; everything centralized
    is O(d^2) integers.
    """
    cov_rows = emb_covariance(spark, sf_dir).collect()
    n1, n2 = _int_top2_components(cov_rows)
    emb = load_spread(spark, sf_dir, "embeddings")
    xq = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * 1e6).cast("long"),
    )
    # sum(xq) div count == sx div n on the shared integer-moment artifact
    mom = (
        _int_moments(spark, sf_dir)
        .select("k", F.expr("sx div n").alias("mean_q"))
        .collect()
    )
    mean_q = [0] * DIM
    for r in mom:
        mean_q[r["k"]] = int(r["mean_q"])
    mean_arr = F.array(*[F.lit(m) for m in mean_q])

    def _proj(vq: list[int]) -> F.Column:
        va = F.array(*[F.lit(int(x)) for x in vq])
        centered = F.zip_with(xq, mean_arr, lambda a, b: a - b)
        terms = F.zip_with(centered, va, lambda a, b: a * b)
        return F.aggregate(
            terms, F.lit(0).cast("long"), lambda acc, t: acc + t
        )

    return (
        emb.select("vec_id", "label", _proj(n1).alias("s1"), _proj(n2).alias("s2"))
        .select(
            "vec_id",
            "label",
            F.expr(f"s1 div {POWER_SCALE}").cast("long").alias("pc1_q"),
            F.expr(f"s2 div {POWER_SCALE}").cast("long").alias("pc2_q"),
        )
    )


POWER_ITERS = 80  # near-isotropic fixtures: eigengap ~0.93 needs ~80 rounds
POWER_SCALE = 10**6  # eigenvector components in 1e-6 units


def _int_power_iteration(
    cq: dict[tuple[int, int], int], d: int, iters: int
) -> list[int]:
    """Integer power iteration over a quantized symmetric matrix: w = M v
    (exact int sums), renormalize v' = (w * SCALE) div max|w| (max-norm —
    no square root in the loop), sign-fix the largest-|component|
    coordinate (lowest dim on ties) positive.  Pure integer arithmetic,
    reproduced verbatim by the unrolled-CTE oracles."""
    v = [POWER_SCALE] * d
    for _ in range(iters):
        w = [sum(cq.get((i, j), 0) * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in w)
        if m == 0:
            raise ValueError(
                "power iteration on a zero matrix (constant embeddings?) "
                "— no principal direction exists"
            )
        v = [_tdiv(x * POWER_SCALE, m) for x in w]
    lead = max(range(d), key=lambda i: (abs(v[i]), -i))
    if v[lead] < 0:
        v = [-x for x in v]
    return v


def _l2_quantize(v: list[int]) -> list[int]:
    """Rescale a max-normalized integer vector to L2 norm ~= SCALE:
    v' = (v * SCALE) div floor(sqrt(sum v^2)).  The single sqrt rides the
    correctly-rounded IEEE double (sum v^2 <= d * SCALE^2 < 2^53, so the
    int->double conversion is exact — the mix_temperature idiom), making
    the result bit-identical across engines."""
    den = sum(x * x for x in v)
    if den == 0:
        raise ValueError("cannot L2-quantize the zero vector")
    import math

    s = int(math.floor(math.sqrt(float(den))))
    return [_tdiv(x * POWER_SCALE, s) for x in v]


def _cov_quantized(cov_rows) -> dict[tuple[int, int], int]:
    """Symmetric integer (1e-6-unit) covariance from emb_covariance rows."""
    cq: dict[tuple[int, int], int] = {}
    for r in cov_rows:
        c = int(r["cov"] * POWER_SCALE)  # Decimal * int is exact
        cq[(r["i"], r["j"])] = c
        cq[(r["j"], r["i"])] = c
    return cq


def _int_top2_components(cov_rows) -> tuple[list[int], list[int]]:
    """Top-2 integer eigenvectors (L2-quantized to SCALE) by power
    iteration + Hotelling deflation, all in exact integer arithmetic:

        n1  = l2(power(C));  lam = (n1^T C n1) div (n1^T n1)
        C2  = C - (lam * n1 n1^T) div (n1^T n1)   (elementwise, truncating)
        n2  = l2(power(C2))

    Orthogonality is within quantization error (asserted ~1e-3 in tests);
    the CONTRACT is this exact procedure, which the DuckDB oracle
    replicates term-for-term — cross-engine identity, not eigh parity."""
    cq = _cov_quantized(cov_rows)
    v1 = _int_power_iteration(cq, DIM, POWER_ITERS)
    n1 = _l2_quantize(v1)
    d1 = sum(x * x for x in n1)
    num = sum(
        n1[i] * cq.get((i, j), 0) * n1[j]
        for i in range(DIM)
        for j in range(DIM)
    )
    lam = _tdiv(num, d1)
    c2 = {
        (i, j): cq.get((i, j), 0) - _tdiv(lam * n1[i] * n1[j], d1)
        for i in range(DIM)
        for j in range(DIM)
    }
    v2 = _int_power_iteration(c2, DIM, POWER_ITERS)
    return n1, _l2_quantize(v2)


def emb_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the embedding covariance by POWER ITERATION
    in exact integer arithmetic — the eigensolver made cross-engine
    bit-identical (the reformulation eigh cannot have).

    The covariance entries come from the distributed sufficient-statistics
    pass (:func:`emb_covariance`, DECIMAL(18,6) — the value parity already
    proves cross-engine), quantized to 1e-6 integer units.  Iteration:
    w = M v (exact int sums), then renormalize v' = (w * SCALE) div max|w|
    — max-norm instead of L2 so NO square root enters the arithmetic.
    Sign fix: the largest-|component| coordinate (lowest dim on ties) is
    made positive.  Every op is add/mul/truncating-div on integers, so the
    unrolled-CTE DuckDB oracle reproduces all 64 components exactly.

    Scale: the distributed work is the covariance pass (partition partials,
    O(partitions * d^2) network); the iteration itself is driver math on a
    d x d integer matrix — the same bounded-state shape as fit_pca's eigh.
    Accuracy vs numpy eigh is asserted in tests (|cos| > 0.999).
    """
    cq = _cov_quantized(emb_covariance(spark, sf_dir).collect())
    v = _int_power_iteration(cq, DIM, POWER_ITERS)
    return spark.createDataFrame(
        [(i, v[i]) for i in range(DIM)], "dim int, v_q long"
    )


def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics of the embedding column.

    The norm is a per-row fold (zip_with square + aggregate sum) entirely
    inside codegen, then one partial-aggregatable groupBy on the tiny label
    key — the shape used to sanity-check embedding tables (un-normalized
    rows, collapsed vectors) before any ANN / dedup pass.  Map-side combine
    means the shuffle carries |labels| rows per task regardless of data size.
    """
    emb = load_spread(spark, sf_dir, "embeddings")
    x = F.col("embedding").cast("array<double>")
    sq = F.aggregate(F.zip_with(x, x, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v)
    per = emb.select("label", F.sqrt(sq).alias("nrm"))
    dec = lambda c: F.round(c, 4).cast("decimal(12,4)")  # noqa: E731
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.avg("nrm")).alias("avg_norm"),
        dec(F.min("nrm")).alias("min_norm"),
        dec(F.max("nrm")).alias("max_norm"),
    )


def emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (mean vector), one row per (label, dimension) —
    the class-prototype computation behind SemDeDup-style pruning and
    nearest-centroid classification.

    posexplode keeps the dimension index JVM-side; the groupBy on the tiny
    (label, dim) key space is partial-aggregatable, so the shuffle carries
    |labels| x d partial sums per task, never vectors.  Components are
    rounded to 6 decimals for cross-engine double parity.
    """
    emb = load_spread(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("k", "x"),
        )
        .groupBy("label", "k")
        .agg(F.round(F.avg("x"), 6).cast("decimal(18,6)").alias("c"))
    )


_E = "list_transform(embedding, x -> x::DOUBLE)"

ORACLE = {
    "emb_covariance": f"""
        WITH e AS (SELECT {_E} AS v FROM embeddings),
        n AS (SELECT count(*) AS c FROM e),
        pairs AS (
          SELECT i.range::INT AS i, j.range::INT AS j
          FROM range(0, {DIM}) i, range(0, {DIM}) j
          WHERE i.range <= j.range)
        SELECT p.i, p.j,
               CAST(round(
                 (sum(v[p.i + 1] * v[p.j + 1])
                  - sum(v[p.i + 1]) * sum(v[p.j + 1]) / any_value(n.c))
                 / any_value(n.c), 6) AS DECIMAL(18,6)) AS cov
        FROM e, pairs p, n
        GROUP BY p.i, p.j
    """,
    # emb_pca_project: oracle generated below (_pca_oracle) — the integer
    # power-iteration + deflation procedure replicated as unrolled CTEs.
    "emb_norm_stats": """
        WITH norms AS (
          SELECT label,
                 sqrt(list_sum(list_transform(embedding,
                      v -> v::DOUBLE * v::DOUBLE))) AS nrm
          FROM embeddings)
        SELECT label, count(*) AS n,
               CAST(round(avg(nrm), 4) AS DECIMAL(12,4)) AS avg_norm,
               CAST(round(min(nrm), 4) AS DECIMAL(12,4)) AS min_norm,
               CAST(round(max(nrm), 4) AS DECIMAL(12,4)) AS max_norm
        FROM norms GROUP BY label
    """,
    "emb_centroid_by_label": f"""
        WITH e AS (SELECT label, {_E} AS v FROM embeddings),
        idx AS (SELECT i.range::INT AS k FROM range(0, {DIM}) i)
        SELECT label, k,
               CAST(round(avg(v[k + 1]), 6) AS DECIMAL(18,6)) AS c
        FROM e, idx GROUP BY label, k
    """,
}

def _iter_chain(mat: str, p: str, iters: int) -> str:
    """CTE text for ``iters`` integer power-iteration rounds over matrix
    CTE ``mat``, reading ``{p}v0`` and producing ``{p}v{iters}``."""
    s = POWER_SCALE
    out = []
    for t in range(1, iters + 1):
        out.append(f""",
{p}w{t} AS MATERIALIZED (
  SELECT {mat}.i AS dim, sum({mat}.c * v.v) AS w
  FROM {mat} JOIN {p}v{t - 1} v ON {mat}.j = v.dim GROUP BY {mat}.i),
{p}mx{t} AS (SELECT max(abs(w)) AS mx FROM {p}w{t}),
{p}v{t} AS (
  SELECT dim, CAST((w * {s}) // mx AS BIGINT) AS v FROM {p}w{t}, {p}mx{t})""")
    return "".join(out)


_COVQ_HEAD = f"""
WITH covq AS MATERIALIZED (
  SELECT i, j, CAST(cov * {POWER_SCALE} AS BIGINT) AS c
  FROM ({ORACLE["emb_covariance"]}) base),
m AS MATERIALIZED (
  SELECT i, j, c FROM covq
  UNION ALL SELECT j AS i, i AS j, c FROM covq WHERE i < j),
v0 AS (
  SELECT i.range::INT AS dim, CAST({POWER_SCALE} AS BIGINT) AS v
  FROM range(0, {DIM}) i)"""


def _power_oracle(iters: int = POWER_ITERS) -> str:
    """Unrolled-CTE DuckDB replica of the integer power iteration."""
    return _COVQ_HEAD + _iter_chain("m", "", iters) + f""",
sgn AS (
  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg
  FROM v{iters} ORDER BY abs(v) DESC, dim ASC LIMIT 1)
SELECT dim, CAST(v * sg AS BIGINT) AS v_q FROM v{iters}, sgn"""


ORACLE["emb_top_eigenvector"] = _power_oracle()


def _pca_oracle(iters: int = POWER_ITERS) -> str:
    """Unrolled-CTE DuckDB replica of the full integer top-2 PCA: power
    chain -> sign fix -> L2 quantization -> Rayleigh lambda -> Hotelling
    deflation -> second power chain -> per-dim integer means -> exact
    integer projections (see :func:`_int_top2_components`).  Sums of
    triple products promote to HUGEINT in DuckDB; the driver-side mirror
    uses Python big ints — both exact."""
    s = POWER_SCALE
    defl = f""",
sgn1 AS (
  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg
  FROM v{iters} ORDER BY abs(v) DESC, dim ASC LIMIT 1),
n1d AS (SELECT dim, CAST(v * sg AS BIGINT) AS v FROM v{iters}, sgn1),
d1r AS (SELECT sum(v * v) AS den FROM n1d),
n1 AS MATERIALIZED (
  SELECT dim, CAST((v * {s}) // CAST(floor(sqrt(den::DOUBLE)) AS BIGINT)
               AS BIGINT) AS v
  FROM n1d, d1r),
d1 AS (SELECT sum(v * v) AS den FROM n1),
lam AS (
  SELECT CAST(num // den AS BIGINT) AS l
  FROM (SELECT sum(a.v * m.c * b.v) AS num
        FROM m JOIN n1 a ON m.i = a.dim JOIN n1 b ON m.j = b.dim) nums, d1),
m2 AS MATERIALIZED (
  SELECT m.i, m.j,
         m.c - CAST((lam.l * a.v * b.v) // d1.den AS BIGINT) AS c
  FROM m JOIN n1 a ON m.i = a.dim JOIN n1 b ON m.j = b.dim, lam, d1),
bv0 AS (
  SELECT i.range::INT AS dim, CAST({s} AS BIGINT) AS v
  FROM range(0, {DIM}) i)"""
    tail = f""",
sgn2 AS (
  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg
  FROM bv{iters} ORDER BY abs(v) DESC, dim ASC LIMIT 1),
n2d AS (SELECT dim, CAST(v * sg AS BIGINT) AS v FROM bv{iters}, sgn2),
d2r AS (SELECT sum(v * v) AS den FROM n2d),
n2 AS MATERIALIZED (
  SELECT dim, CAST((v * {s}) // CAST(floor(sqrt(den::DOUBLE)) AS BIGINT)
               AS BIGINT) AS v
  FROM n2d, d2r),
el AS MATERIALIZED (
  SELECT vec_id, label, i - 1 AS k,
         CAST(round(embedding[i]::DOUBLE * 1e6) AS BIGINT) AS xq
  FROM embeddings, LATERAL unnest(generate_series(1, len(embedding)))
         AS t(i)),
mom AS (SELECT k, sum(xq) // count(*) AS mean_q FROM el GROUP BY k)
SELECT el.vec_id, el.label,
       CAST(sum((el.xq - mom.mean_q) * n1.v) // {s} AS BIGINT) AS pc1_q,
       CAST(sum((el.xq - mom.mean_q) * n2.v) // {s} AS BIGINT) AS pc2_q
FROM el JOIN mom ON el.k = mom.k
     JOIN n1 ON n1.dim = el.k JOIN n2 ON n2.dim = el.k
GROUP BY el.vec_id, el.label"""
    return (
        _COVQ_HEAD
        + _iter_chain("m", "", iters)
        + defl
        + _iter_chain("m2", "b", iters)
        + tail
    )


ORACLE["emb_pca_project"] = _pca_oracle()

QUERIES = {
    "emb_covariance": emb_covariance,
    "emb_pca_project": emb_pca_project,
    "emb_top_eigenvector": emb_top_eigenvector,
    "emb_norm_stats": emb_norm_stats,
    "emb_centroid_by_label": emb_centroid_by_label,
}


OUTLIER_TOPK = 20


def emb_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: per-dimension z-scores from
    EXACT integer moments, each vector scored by its worst dimension —
    the embedding-table QA pass that surfaces corrupt rows (bad decode,
    wrong scaling, dead model head) before they poison an ANN index or a
    SemDeDup run.

    Exactness: elements are pre-quantized to integer micro-units
    (round(x*1e6) — float->double widening is exact and both engines
    round doubles half-away-from-zero), so per-dim sum/sum-of-squares are
    exact int64 (max |x_q| ~ 5e5, squared 2.5e11, x 1e5 rows = 2.5e16
    << 2^63); sigma = floor(sqrt(biased var)) rides the correctly-rounded
    IEEE sqrt (the mix_temperature idiom); scores are milli-sigmas with
    truncating division.

    Scale shape: one posexplode -> d-row partial-agg moments (map-side
    combinable; the shuffle carries d rows per task), broadcast back onto
    the element stream, one per-vector MAX agg, then global top-k =
    TakeOrderedAndProject.  Nothing wider than d rows is ever centralized.
    """
    emb = load_spread(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("k", "x"),
    ).select("vec_id", "k", F.round(F.col("x") * 1e6).cast("long").alias("xq"))
    # z-moments from the shared integer-moment artifact (r08): the element
    # stream is exploded once for scoring, not a second time for moments
    mom = _int_moments(spark, sf_dir).select(
        "k",
        F.expr("sx div n").alias("mean_q"),
        F.expr(
            "CAST(floor(sqrt(CAST(sxx div n - (sx div n) * (sx div n)"
            " AS DOUBLE))) AS BIGINT)"
        ).alias("sigma_q"),
    )
    scored = (
        el.join(F.broadcast(mom), "k")
        .select(
            "vec_id",
            F.expr("(abs(xq - mean_q) * 1000) div greatest(sigma_q, 1)")
            .alias("z_milli"),
        )
        .groupBy("vec_id")
        .agg(F.max("z_milli").cast("long").alias("max_z_milli"))
    )
    return scored.orderBy(F.col("max_z_milli").desc(), "vec_id").limit(
        OUTLIER_TOPK
    )


QUERIES["emb_outlier_zscore"] = emb_outlier_zscore
ORACLE["emb_outlier_zscore"] = f"""
    WITH el AS (
      SELECT vec_id, i - 1 AS k,
             CAST(round(embedding[i]::DOUBLE * 1e6) AS BIGINT) AS xq
      FROM embeddings, LATERAL unnest(generate_series(1, len(embedding)))
             AS t(i)),
    mom AS (
      SELECT k, sum(xq) // count(*) AS mean_q,
             CAST(floor(sqrt((sum(xq * xq) // count(*)
                   - (sum(xq) // count(*)) * (sum(xq) // count(*)))::DOUBLE))
                  AS BIGINT) AS sigma_q
      FROM el GROUP BY k),
    scored AS (
      SELECT el.vec_id,
             max((abs(el.xq - mom.mean_q) * 1000)
                 // greatest(mom.sigma_q, 1)) AS max_z_milli
      FROM el JOIN mom ON el.k = mom.k
      GROUP BY el.vec_id)
    SELECT vec_id, max_z_milli::BIGINT AS max_z_milli
    FROM scored ORDER BY max_z_milli DESC, vec_id LIMIT {OUTLIER_TOPK}
"""
