"""Sketch-operator invariants beyond the exact-value oracle check.

The parity gate proves Spark == DuckDB on the deterministic sketches; these
tests assert the *statistical* guarantees each sketch carries, which the
hash-match alone can't express (and, for HLL++, can't check at all since the
estimate is engine-specific); the portable HLL gets a python replay.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.catalog import load
from mysql_cdc_debezium_starrocks_spark.operators.sketches import (
    THETA_K,
    sketch_approx_distinct,
    sketch_bloom_semijoin,
    sketch_cms_heavy,
    sketch_kmv_distinct,
    sketch_theta_intersect,
)
from tests._replay import _phash32, _qln, _tdiv
from tests.conftest import SF_SMOKE


def test_cms_never_underestimates(spark):
    rows = sketch_cms_heavy(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.cms_est >= r.exact_cnt for r in rows)


def test_kmv_estimate_within_reason(spark):
    # k=32 gives ~1/sqrt(k-2) ~ 18% standard error; allow 3 sigma.
    rows = sketch_kmv_distinct(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert float(r.kmv_est) > 0
        rel = abs(float(r.kmv_est) - r.n_exact) / r.n_exact
        assert rel < 0.55, (r.event_type, r.n_exact, r.kmv_est)


def test_bloom_no_false_negatives(spark):
    r = sketch_bloom_semijoin(spark, SF_SMOKE).collect()[0]
    # every true member must pass the filter (bloom's hard guarantee)
    assert r.n_pass == r.n_true + r.n_false_pos
    assert r.n_pass >= r.n_true
    assert 0 < r.n_true <= r.n_probe


def test_approx_distinct_error_bound(spark):
    rows = sketch_approx_distinct(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        rel = abs(r.n_approx - r.n_exact) / r.n_exact
        assert rel < 0.05, (r.event_type, r.n_exact, r.n_approx)


def test_theta_exact_below_k(spark):
    """Sets smaller than k degrade gracefully to EXACT answers (theta=2^32
    keeps every hash), so the sketch is safe to use unconditionally."""
    r = sketch_theta_intersect(spark, SF_SMOKE).collect()[0]
    assert r.n_a < THETA_K and r.n_b < THETA_K
    assert float(r.inter_est) == r.n_inter_exact
    assert float(r.union_est) == r.n_union_exact


def test_theta_estimate_within_reason(spark):
    """At sf0.01 both sets exceed k, so the true sampled path runs; KMV with
    k=32 carries ~1/sqrt(k-2) ~ 18% standard error — allow 3 sigma."""
    r = sketch_theta_intersect(spark, "/root/testdata/sf0.01").collect()[0]
    assert r.n_a > THETA_K and r.n_b > THETA_K
    for est, exact in ((r.inter_est, r.n_inter_exact), (r.union_est, r.n_union_exact)):
        assert abs(float(est) - exact) / exact < 0.55, (est, exact)
    assert 0 <= float(r.jaccard_est) <= 1


def test_theta_merge_equals_direct_sketch(spark):
    """KMV mergeability, bit-for-bit: sketching per-chunk then merging must
    equal sketching the full union — the property that lets incremental
    maintenance (per-day sketches) answer overlap questions without ever
    rescanning history."""
    from mysql_cdc_debezium_starrocks_spark.operators.sketches import (
        theta_merge,
        theta_sketch,
    )

    rows = [("s1", i * 7) for i in range(200)] + [
        ("s2", i * 13) for i in range(80)
    ]
    full = spark.createDataFrame(rows, "set_id STRING, item LONG")
    chunks = [
        full.filter(F.col("item") % 3 == i) for i in range(3)
    ]  # overlapping sets, disjoint chunk partition of the rows
    merged = theta_merge(
        chunks[0]
        .transform(lambda d: theta_sketch(d, "set_id", "item"))
        .unionByName(theta_sketch(chunks[1], "set_id", "item"))
        .unionByName(theta_sketch(chunks[2], "set_id", "item")),
        "set_id",
    )
    direct = theta_sketch(full, "set_id", "item")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_theta_properties_random_sets(spark):
    """Deterministic invariants over randomized set pairs (seeded): exact
    answers whenever both sets fit under k, and structural bounds always
    (union_est >= inter_est >= 0, 0 <= jaccard <= 1)."""
    import random

    from mysql_cdc_debezium_starrocks_spark.operators.sketches import (
        theta_combine,
        theta_sketch,
    )

    rng = random.Random(42)
    for trial in range(4):
        na, nb = rng.randint(1, 150), rng.randint(1, 150)
        universe = range(rng.randint(50, 400))
        sa = set(rng.sample(universe, min(na, len(universe))))
        sb = set(rng.sample(universe, min(nb, len(universe))))
        rows = [("a", x) for x in sa] + [("b", x) for x in sb]
        df = spark.createDataFrame(rows, "set_id STRING, item LONG")
        r = theta_combine(theta_sketch(df, "set_id", "item"), "set_id").collect()[0]
        assert float(r.union_est) >= float(r.inter_est) >= 0
        assert 0 <= float(r.jaccard_est) <= 1
        if len(sa) < THETA_K and len(sb) < THETA_K:
            assert float(r.inter_est) == len(sa & sb), (trial, sa, sb)
            assert float(r.union_est) == len(sa | sb), (trial, sa, sb)


def test_containment_estimate_close(spark):
    """FK-containment from k=256 sketches: sigma ~ sqrt(c(1-c)/k) ~ 0.025
    at c~0.2, so allow 4 sigma; exact side must be internally consistent."""
    from mysql_cdc_debezium_starrocks_spark.operators.sketches import (
        sketch_theta_containment,
    )

    r = sketch_theta_containment(spark, "/root/testdata/sf0.01").collect()[0]
    assert 0 < r.n_orphans < r.n_fk  # the filtered dim makes this non-trivial
    assert float(r.containment_exact) == round(
        (r.n_fk - r.n_orphans) / r.n_fk, 6
    )
    assert abs(float(r.containment_est) - float(r.containment_exact)) < 0.1


def test_perplexity_bounds(spark):
    """Unigram-MLE perplexity invariants: every per-token probability is in
    (0, 1], so nll >= 0 and 1 <= ppl <= N (the singleton-token worst case)."""
    from mysql_cdc_debezium_starrocks_spark.operators.text import text_perplexity

    rows = text_perplexity(spark, SF_SMOKE).collect()
    assert rows
    n_total = sum(r.n_tok for r in rows)
    for r in rows:
        assert float(r.nll) >= 0
        assert 1 <= float(r.ppl) <= n_total


def test_scd2_intervals_partition_history(spark):
    """SCD2 invariants: versions are dense per key, intervals chain, exactly
    one open (current) interval per surviving key, and the current rows equal
    the live cdc_apply table keys."""
    from mysql_cdc_debezium_starrocks_spark.operators.cdc_queries import (
        cdc_apply,
        cdc_scd2,
    )

    hist = cdc_scd2(spark, SF_SMOKE).cache()
    # at most one current version per key; keys fully deleted have none
    per_key = (
        hist.groupBy("order_key")
        .agg(F.sum(F.col("is_current").cast("int")).alias("n_open"))
        .collect()
    )
    assert all(r.n_open in (0, 1) for r in per_key)
    current_keys = {
        r.order_key for r in hist.filter("is_current").select("order_key").collect()
    }
    live_keys = {
        r.order_key for r in cdc_apply(spark, SF_SMOKE).select("order_key").collect()
    }
    assert current_keys == live_keys
    # intervals chain: version n's valid_to == version n+1's valid_from when
    # both versions are non-delete events and adjacent in the event sequence
    chained = (
        hist.alias("a")
        .join(
            hist.alias("b"),
            (F.col("a.order_key") == F.col("b.order_key"))
            & (F.col("b.version") == F.col("a.version") + 1),
        )
        .filter(F.col("a.valid_to_seq") != F.col("b.valid_from_seq"))
        .count()
    )
    assert chained == 0
    hist.unpersist()


def test_sketch_hll_portable_replay_and_merge(spark):
    """Exact register replay, the HLL error bound, and the mergeability
    contract: registers built from any partition of the data max-combine
    to the whole-corpus sketch."""
    from mysql_cdc_debezium_starrocks_spark.operators.sketches import (
        HLL_M,
        HLL_P,
        _HLL_REM_BITS,
        sketch_hll_portable,
    )

    orders = load(spark, SF_SMOKE, "orders").select("o_orderkey").collect()
    keys = [r.o_orderkey for r in orders]

    def regs_of(ks):
        regs = {}
        for k in ks:
            h = _phash32(str(k), "hll")
            idx, rem = h >> _HLL_REM_BITS, h & ((1 << _HLL_REM_BITS) - 1)
            rho = _HLL_REM_BITS + 1 - rem.bit_length()
            regs[idx] = max(regs.get(idx, 0), rho)
        return regs

    whole = regs_of(keys)
    # mergeability: split by key parity, max-combine == whole
    a, b = regs_of([k for k in keys if k % 2]), regs_of(
        [k for k in keys if not k % 2]
    )
    merged = dict(a)
    for i, r in b.items():
        merged[i] = max(merged.get(i, 0), r)
    assert merged == whole

    # replay the estimator arithmetic
    s = _HLL_REM_BITS + 1
    sum_scaled = sum(1 << (s - r) for r in whole.values()) + (
        HLL_M - len(whole)
    ) * (1 << s)
    zeros = HLL_M - len(whole)
    n1 = 720541 * HLL_M * HLL_M * (1 << s)
    est_raw = (n1 // sum_scaled) // 1_000_000
    if est_raw <= (5 * HLL_M) // 2 and zeros > 0:
        est = (HLL_M * (_qln(HLL_M) - _qln(zeros))) // 1_000_000
    else:
        est = est_raw
    n_exact = len(set(keys))
    err = _tdiv((est - n_exact) * 1_000_000, n_exact)

    row = sketch_hll_portable(spark, SF_SMOKE).collect()[0]
    assert (row.m, row.n_exact, row.n_zero_regs) == (HLL_M, n_exact, zeros)
    assert (row.est_raw, row.est_hll, row.err_ppm) == (est_raw, est, err)
    # 1.04/sqrt(m) ~ 3.25% std error; 4 sigma bound
    assert abs(row.err_ppm) < 130_000
