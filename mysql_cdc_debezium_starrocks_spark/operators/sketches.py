"""Sketch / approximate-aggregation operators (training-pipeline scale path).

At 100 TB, exact distinct counts, membership tests, and per-key frequencies
are shuffle-bound; the standard engine answer is a fixed-size sketch that
partially aggregates map-side.  This module implements three classic sketches
**deterministically on the portable hash family** (``functions.phash32``) so
every one is exactly DuckDB-oracle-checkable — the correctness gate covers
the sketch math itself, not just row counts:

- ``sketch_kmv_distinct``: K-Minimum-Values distinct-count estimator
  (Bar-Yossef et al. 2002): keep the k smallest h(x); estimate
  (k-1) * 2^32 / h_(k).  The deterministic stand-in for HyperLogLog.
- ``sketch_cms_heavy``: Count-Min sketch (Cormode & Muthukrishnan 2005):
  depth x width counter grid, point estimate = min over rows; the classic
  heavy-hitter primitive.  Counter grid is a fixed d*w-cell aggregate ->
  map-side combinable, broadcast back for probing.
- ``sketch_bloom_semijoin``: Bloom-filter membership built from a filtered
  dimension and probed by the fact side — the semi-join pruning pattern
  engines push into scans (Spark's own runtime bloom filter joins,
  ``spark.sql.optimizer.runtime.bloomFilter.enabled``); here made explicit
  and oracle-checked, reporting the measured false-positive count.
- ``sketch_approx_distinct``: Spark's native HyperLogLog++
  (``approx_count_distinct``) side-by-side with the exact count.  Its value
  is implementation-defined, so it has NO SQL oracle (rows-only check);
  tests/test_sketches.py asserts the documented relative-error bound.
- ``sketch_theta_intersect``: Theta-sketch set algebra (Dasgupta et al.,
  "Theta-Sketch Framework", 2016): KMV samples of two keyed sets combined
  under theta = min(theta_a, theta_b) to estimate intersection / union /
  Jaccard — the sketch answer to "how much do these two sources overlap"
  that HLL fundamentally cannot give (HLL unions but never intersects).

Scale: every sketch build is groupBy over a bounded key space (k rows per
group / d*w cells / m bits) with map-side partial aggregation; probes join
against a broadcast of the tiny sketch.  No Python UDFs anywhere.

Reference parity note: the reference has no sketch surface (SURVEY.md §2.4
— plain COUNT/MIN/MAX/AVG/percentile only); this is the parity-plus scale
layer the north star asks for.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..functions import phash32, phash32_sql

KMV_K = 32
THETA_K = 32
THETA_TYPES = ("click", "purchase")
CMS_DEPTH = 3
CMS_WIDTH = 256
BLOOM_BITS = 4096
BLOOM_HASHES = 3
_TWO32 = 4294967296.0


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate per event_type vs the exact count.

    One distinct-pair reduction (partial-agg'd), then a per-group k-smallest
    selection (WindowGroupLimit keeps only k rows per group per partition
    before the shuffle).  When a group has fewer than k distinct hashes the
    estimate IS the exact count.
    """
    e = load(spark, sf_dir, "events")
    pairs = e.select(
        "event_type", phash32(F.col("user_id"), "kmv").alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kth = (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KMV_K)
        .groupBy("event_type")
        .agg(F.max("h").alias("h_k"), F.count(F.lit(1)).alias("k_actual"))
    )
    exact = pairs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.when(
        F.col("k_actual") < KMV_K, F.col("k_actual").cast("double")
    ).otherwise(
        F.round(F.lit((KMV_K - 1) * _TWO32) / F.col("h_k"), 2)
    )
    return (
        exact.join(kth, "event_type")
        .select(
            "event_type",
            "n_exact",
            est.cast("decimal(14,2)").alias("kmv_est"),
        )
    )


def sketch_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over event user_ids, probed for every user.

    Build: explode each row into ``depth`` (row, bucket) cells, count cells
    (fixed d*w-cell grid — the aggregate state is bounded regardless of input
    size).  Probe: per user take min over its depth counters; CMS guarantees
    cms_est >= exact always (one-sided error), asserted in tests.
    """
    ev = load(spark, sf_dir, "events").select("user_id")
    cell = lambda d: F.struct(  # noqa: E731
        F.lit(d).alias("d"),
        (phash32(F.col("user_id"), f"cms{d}") % CMS_WIDTH).alias("pos"),
    )
    cells = ev.select(
        F.explode(F.array(*[cell(d) for d in range(CMS_DEPTH)])).alias("c")
    ).select("c.d", "c.pos")
    grid = cells.groupBy("d", "pos").agg(F.count(F.lit(1)).alias("cnt"))

    users = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = users.select(
        "user_id",
        "exact_cnt",
        F.explode(F.array(*[cell(d) for d in range(CMS_DEPTH)])).alias("c"),
    ).select("user_id", "exact_cnt", "c.d", "c.pos")
    return (
        probes.join(F.broadcast(grid), ["d", "pos"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )


def sketch_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter from BUILDING-segment customers probed by all orders.

    The explicit form of runtime bloom-join pruning: build an m-bit filter
    from the filtered dim (here: bit positions as a sorted int array —
    portable and oracle-checkable), broadcast it, and pre-filter the fact
    probe before the real join would run.  Reports measured pass / true /
    false-positive counts so the pruning power is itself checked.
    """
    cust = load(spark, sf_dir, "customer")
    build = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")

    def positions(col: str) -> list:
        return [
            (phash32(F.col(col), f"bf{j}") % BLOOM_BITS)
            for j in range(BLOOM_HASHES)
        ]

    bits = (
        build.select(F.explode(F.array(*positions("c_custkey"))).alias("pos"))
        .agg(F.sort_array(F.collect_set("pos")).alias("bits"))
    )
    truth = build.distinct().withColumn("in_set", F.lit(1))
    probe = load(spark, sf_dir, "orders").select("o_custkey")
    hit = reduce(
        lambda a, b: a & b,
        [F.array_contains(F.col("bits"), p) for p in positions("o_custkey")],
    )
    probed = (
        probe.crossJoin(F.broadcast(bits))
        .withColumn("pass", hit)
        .join(F.broadcast(truth), probe.o_custkey == truth.c_custkey, "left")
    )
    as_int = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return probed.agg(
        F.count(F.lit(1)).alias("n_probe"),
        as_int(F.col("pass")).alias("n_pass"),
        as_int(F.col("in_set").isNotNull()).alias("n_true"),
        as_int(F.col("pass") & F.col("in_set").isNull()).alias("n_false_pos"),
    )


def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native HLL++ distinct estimate next to the exact count (per type).

    No SQL oracle — HLL register contents are engine-specific; the driver
    records the rows-only check and tests/test_sketches.py asserts the
    rsd=0.01 error bound against the exact value.

    Both aggregates run over the pre-deduplicated (type, user) pairs: a
    combined ``countDistinct + approx_count_distinct`` in one agg would
    plan an Expand (row duplication per aggregate); deduping first costs
    one partial-agg'd shuffle and HLL over a distinct set yields the same
    estimate (insensitive to duplicates).
    """
    e = load(spark, sf_dir, "events")
    pairs = e.select("event_type", "user_id").distinct()
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_approx"),
    )


def _theta_from_hashes(pairs: DataFrame, set_col: str, k: int) -> DataFrame:
    """Sketch rows from (set, h) pairs: the k smallest hashes per set, each
    row carrying the set's theta (h_(k), or 2^32 for sets smaller than k —
    those sketches are exact).  WindowGroupLimit keeps k rows per set per
    partition before the shuffle, so sketch construction state is bounded."""
    w = Window.partitionBy(set_col).orderBy("h")
    topk = (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
    th = topk.groupBy(set_col).agg(
        F.when(F.count(F.lit(1)) < k, F.lit(int(_TWO32)))
        .otherwise(F.max("h"))
        .alias("theta")
    )
    return topk.join(th, set_col)


def theta_sketch(
    df: DataFrame, set_col: str, item_col: str, k: int = THETA_K,
    seed: str = "theta",
) -> DataFrame:
    """Build per-set KMV/theta sketches over ``item_col`` grouped by
    ``set_col`` — the reusable form: persist the (set, h, theta) table once,
    then answer any pairwise overlap question from k-row state.  Hashing is
    the deterministic portable family, so sketches built on different
    clusters/engines are bit-identical and mergeable.

    Dedup happens on the HASH, not the value: that makes one-shot
    construction agree with :func:`theta_merge` (which can only dedup
    hashes — values are gone) even when two distinct values collide, so
    the merge==direct bit-for-bit invariant is unconditional.  NULL items
    are dropped: phash32(NULL) is NULL, which would sort NULLS FIRST and
    permanently occupy the sketch's rank-1 slot, biasing theta."""
    pairs = (
        df.filter(F.col(item_col).isNotNull())
        .select(set_col, phash32(F.col(item_col), seed).alias("h"))
        .distinct()
    )
    return _theta_from_hashes(pairs, set_col, k)


def theta_merge(sketches: DataFrame, set_col: str, k: int = THETA_K) -> DataFrame:
    """Merge per-chunk sketches of the same logical sets (e.g. one sketch
    per day/partition): the k smallest distinct hashes of the concatenation
    ARE the sketch of the union (KMV mergeability), so incremental
    maintenance never rescans history.  Exactness is preserved: tests assert
    merge(sketch(chunk_i)) == sketch(union of chunks) bit-for-bit."""
    return _theta_from_hashes(
        sketches.select(set_col, "h").distinct(), set_col, k
    )


def _theta_sample(
    sketch: DataFrame, set_col: str
) -> tuple[DataFrame, DataFrame]:
    """The combined sample of a TWO-set sketch table: its rows below
    theta_g = min(theta_a, theta_b), each carrying theta_g, and the
    one-row theta_g table itself."""
    thg = (
        sketch.groupBy(set_col)
        .agg(F.first("theta").alias("t"))
        .agg(F.min("t").alias("theta_g"))
    )
    sample = sketch.crossJoin(F.broadcast(thg)).filter(
        F.col("h") < F.col("theta_g")
    )
    return sample, thg


def theta_combine(sketch: DataFrame, set_col: str) -> DataFrame:
    """Combine a sketch table holding EXACTLY TWO sets under
    theta = min(theta_a, theta_b): every retained hash below theta is a
    uniform sample of the key space, so |sample ∩| * 2^32 / theta estimates
    the true intersection — the set-algebra capability HLL lacks.  Returns
    one row: theta, sample counts, inter/union/Jaccard estimates."""
    sample, thg = _theta_sample(sketch, set_col)
    est = (
        sample.groupBy("h")
        .agg(F.countDistinct(set_col).alias("nt"))
        .agg(
            F.count(F.lit(1)).alias("n_union_s"),
            F.sum(F.when(F.col("nt") == 2, 1).otherwise(0)).alias("n_inter_s"),
        )
    )
    scale = _TWO32 / F.col("theta_g")
    return est.crossJoin(F.broadcast(thg)).select(
        F.col("theta_g").alias("theta"),
        "n_union_s",
        "n_inter_s",
        F.round(F.col("n_inter_s").cast("double") * scale, 2)
        .cast("decimal(14,2)")
        .alias("inter_est"),
        F.round(F.col("n_union_s").cast("double") * scale, 2)
        .cast("decimal(14,2)")
        .alias("union_est"),
        F.round(F.try_divide(F.col("n_inter_s").cast("double"), F.col("n_union_s")), 6)
        .cast("decimal(9,6)")
        .alias("jaccard_est"),
    )


def sketch_theta_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch intersection of the 'click' and 'purchase' user sets,
    emitted next to the exact counts so the driver oracle checks the sketch
    math end-to-end (see :func:`theta_sketch` / :func:`theta_combine` for
    the reusable API this query drives).

    Scale: two bounded-state aggregations (k rows per set via
    WindowGroupLimit, then a <=2k-row hash-membership reduction); the exact
    side is one distinct + partial-agg pass.  The estimate never touches
    raw user ids after the first projection — at 100 TB the shuffle carries
    8-byte hashes, and the sketches themselves are mergeable across
    partitions/days (:func:`theta_merge`).
    """
    # NULL users excluded from sketch AND exact sides alike (a NULL user
    # is not a member of either set; theta_sketch drops NULL items)
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*THETA_TYPES) & F.col("user_id").isNotNull()
    )
    dpairs = e.select("event_type", "user_id").distinct()
    combined = theta_combine(
        theta_sketch(e, "event_type", "user_id"), "event_type"
    )
    exact = (
        dpairs.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
        .agg(
            F.count(F.lit(1)).alias("n_union_exact"),
            F.sum(F.when(F.col("nt") == 2, 1).otherwise(0)).alias("n_inter_exact"),
        )
    )
    ab = dpairs.agg(
        F.sum(F.when(F.col("event_type") == THETA_TYPES[0], 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("event_type") == THETA_TYPES[1], 1).otherwise(0)).alias("n_b"),
    )
    return (
        ab.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(combined))
        .select(
            "n_a",
            "n_b",
            "n_inter_exact",
            "n_union_exact",
            "inter_est",
            "union_est",
            "jaccard_est",
        )
    )


CONTAIN_K = 256  # finer sketch for the containment ratio estimate


def theta_containment(sketch: DataFrame, set_col: str, fk_label: str) -> DataFrame:
    """Containment of the ``fk_label`` set in the other set of a TWO-set
    sketch table, as a ratio of sample counts below the combined theta (the
    2^32/theta scale cancels).  One row: inter_s, fk_s, containment_est."""
    sample, _thg = _theta_sample(sketch, set_col)
    return (
        sample.groupBy("h")
        .agg(
            F.countDistinct(set_col).alias("nt"),
            F.max(F.when(F.col(set_col) == fk_label, 1).otherwise(0)).alias("is_fk"),
        )
        .agg(
            F.sum(F.when(F.col("nt") == 2, 1).otherwise(0)).alias("inter_s"),
            F.sum("is_fk").alias("fk_s"),
        )
        .select(
            "inter_s",
            "fk_s",
            F.round(F.try_divide(F.col("inter_s").cast("double"), F.col("fk_s")), 6)
            .cast("decimal(9,6)")
            .alias("containment_est"),
        )
    )


def sketch_theta_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity monitor from bounded sketches: what fraction of
    orders.o_custkey values exist among BUILDING-segment customers,
    estimated WITHOUT joining the tables — containment = |FK ∩ PK| / |FK|
    as a ratio of sample counts below the combined theta (the 2^32/theta
    scale cancels, so no estimator arithmetic at all).  Emitted next to the
    exact orphan count/containment so the oracle checks the sketch.

    The data-quality question this answers at 100 TB: "are fact foreign
    keys resolving against the dimension?" — continuously answerable from
    two k-row sketch tables (maintained per partition via
    :func:`theta_merge`) instead of a fact-size anti join.
    """
    # NULL keys excluded on sketch and exact sides alike: a NULL FK is an
    # orphan by definition, not a key whose resolution we sample
    fk = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select(F.col("o_custkey").alias("key"))
        .withColumn("side", F.lit("fk"))
    )
    pk = (
        load(spark, sf_dir, "customer")
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & F.col("c_custkey").isNotNull()
        )
        .select(F.col("c_custkey").alias("key"))
        .withColumn("side", F.lit("pk"))
    )
    est = theta_containment(
        theta_sketch(fk.unionByName(pk), "side", "key", k=CONTAIN_K, seed="fkc"),
        "side",
        "fk",
    )
    # exact side in ONE keyed pass (r08): distinct-FK count, distinct-PK
    # count and orphan count all derive from a per-key presence fold over
    # the same union the sketch side consumes — replacing a distinct +
    # left-anti join + second distinct (three key-scale shuffles) with a
    # single partial-agg'd groupBy(key).
    presence = (
        fk.unionByName(pk)
        .groupBy("key")
        .agg(
            F.max(F.when(F.col("side") == "fk", 1).otherwise(0)).alias("has_fk"),
            F.max(F.when(F.col("side") == "pk", 1).otherwise(0)).alias("has_pk"),
        )
    )
    exact = presence.agg(
        F.sum("has_fk").cast("long").alias("n_fk"),
        F.sum("has_pk").cast("long").alias("n_pk"),
        F.sum(
            F.when((F.col("has_fk") == 1) & (F.col("has_pk") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_orphans"),
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_fk",
        "n_pk",
        "n_orphans",
        F.round(
            (F.col("n_fk") - F.col("n_orphans")).cast("double") / F.col("n_fk"), 6
        )
        .cast("decimal(9,6)")
        .alias("containment_exact"),
        "containment_est",
    )


_CONTAIN_ORACLE = f"""
WITH fk AS (SELECT DISTINCT o_custkey AS key FROM orders WHERE o_custkey IS NOT NULL),
pk AS (SELECT DISTINCT c_custkey AS key FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_custkey IS NOT NULL),
u AS (
  SELECT 'fk' AS side, {phash32_sql("key::VARCHAR", "fkc")} AS h FROM fk
  UNION ALL
  SELECT 'pk' AS side, {phash32_sql("key::VARCHAR", "fkc")} AS h FROM pk),
ranked AS (
  -- distinct on the HASH (not the value): matches theta_sketch's
  -- merge-compatible dedup semantics
  SELECT side, h, row_number() OVER (PARTITION BY side ORDER BY h) AS rk
  FROM (SELECT DISTINCT side, h FROM u) du),
topk AS (SELECT side, h FROM ranked WHERE rk <= {CONTAIN_K}),
th AS (
  SELECT side,
         CASE WHEN count(*) < {CONTAIN_K} THEN {int(_TWO32)} ELSE max(h) END AS theta
  FROM topk GROUP BY side),
thg AS (SELECT min(theta) AS theta_g FROM th),
sample AS (SELECT t.side, t.h FROM topk t CROSS JOIN thg WHERE t.h < thg.theta_g),
est AS (
  SELECT sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS inter_s,
         sum(is_fk) AS fk_s
  FROM (SELECT h, count(DISTINCT side) AS nt,
               max(CASE WHEN side = 'fk' THEN 1 ELSE 0 END) AS is_fk
        FROM sample GROUP BY h) b),
exact AS (
  SELECT (SELECT count(*) FROM fk WHERE key NOT IN (SELECT key FROM pk)) AS n_orphans,
         (SELECT count(*) FROM fk) AS n_fk,
         (SELECT count(*) FROM pk) AS n_pk)
SELECT n_fk, n_pk, n_orphans,
       CAST(round((n_fk - n_orphans)::DOUBLE / n_fk, 6) AS DECIMAL(9,6)) AS containment_exact,
       CAST(round(inter_s::DOUBLE / fk_s, 6) AS DECIMAL(9,6)) AS containment_est
FROM exact CROSS JOIN est
"""


_THETA_TYPES_SQL = ", ".join(f"'{t}'" for t in THETA_TYPES)

_THETA_ORACLE = f"""
WITH dpairs AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE user_id IS NOT NULL AND event_type IN ({_THETA_TYPES_SQL})),
pairs AS (
  -- distinct on the HASH (not the value): matches theta_sketch's
  -- merge-compatible dedup semantics
  SELECT DISTINCT event_type, {phash32_sql("user_id::VARCHAR", "theta")} AS h
  FROM dpairs),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM pairs),
topk AS (SELECT event_type, h FROM ranked WHERE rk <= {THETA_K}),
th AS (
  SELECT event_type,
         CASE WHEN count(*) < {THETA_K} THEN {int(_TWO32)} ELSE max(h) END AS theta
  FROM topk GROUP BY event_type),
thg AS (SELECT min(theta) AS theta FROM th),
sample AS (
  SELECT t.event_type, t.h FROM topk t CROSS JOIN thg WHERE t.h < thg.theta),
est AS (
  SELECT count(*) AS n_union_s,
         sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS n_inter_s
  FROM (SELECT h, count(DISTINCT event_type) AS nt FROM sample GROUP BY h) b),
exact AS (
  SELECT count(*) AS n_union_exact,
         sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS n_inter_exact
  FROM (SELECT user_id, count(DISTINCT event_type) AS nt FROM dpairs GROUP BY user_id) u),
ab AS (
  -- exact set sizes come from dpairs (value-level distinct), matching the
  -- Spark side; pairs (hash-level distinct) is only for the sketch CTEs —
  -- a 32-bit hash collision must not change the 'exact' columns
  SELECT sum(CASE WHEN event_type = '{THETA_TYPES[0]}' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN event_type = '{THETA_TYPES[1]}' THEN 1 ELSE 0 END) AS n_b
  FROM dpairs)
SELECT n_a, n_b, n_inter_exact, n_union_exact,
       CAST(round(n_inter_s::DOUBLE * ({_TWO32:.1f} / theta), 2) AS DECIMAL(14,2)) AS inter_est,
       CAST(round(n_union_s::DOUBLE * ({_TWO32:.1f} / theta), 2) AS DECIMAL(14,2)) AS union_est,
       CAST(round(n_inter_s::DOUBLE / n_union_s, 6) AS DECIMAL(9,6)) AS jaccard_est
FROM ab CROSS JOIN exact CROSS JOIN est CROSS JOIN thg
"""


_KMV_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT event_type, {phash32_sql("user_id::VARCHAR", "kmv")} AS h
  FROM events),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM pairs),
kth AS (
  SELECT event_type, max(h) AS h_k, count(*) AS k_actual
  FROM ranked WHERE rk <= {KMV_K} GROUP BY event_type),
ex AS (SELECT event_type, count(*) AS n_exact FROM pairs GROUP BY event_type)
SELECT ex.event_type, ex.n_exact,
       CAST(CASE WHEN k_actual < {KMV_K} THEN k_actual::DOUBLE
                 ELSE round({(KMV_K - 1)}.0 * {_TWO32:.1f} / h_k, 2)
            END AS DECIMAL(14,2)) AS kmv_est
FROM ex JOIN kth ON ex.event_type = kth.event_type
"""

_CMS_POS = {
    d: f"({phash32_sql('user_id::VARCHAR', f'cms{d}')} % {CMS_WIDTH})"
    for d in range(CMS_DEPTH)
}

_CMS_ORACLE = f"""
WITH cells AS (
  SELECT d, pos FROM events,
  LATERAL (VALUES {", ".join(f"({d}, {_CMS_POS[d]})" for d in range(CMS_DEPTH))}) AS t(d, pos)),
grid AS (SELECT d, pos, count(*) AS cnt FROM cells GROUP BY d, pos),
users AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id),
probes AS (
  SELECT user_id, exact_cnt, d, pos FROM users,
  LATERAL (VALUES {", ".join(f"({d}, {_CMS_POS[d]})" for d in range(CMS_DEPTH))}) AS t(d, pos))
SELECT p.user_id, p.exact_cnt, min(g.cnt) AS cms_est
FROM probes p JOIN grid g ON p.d = g.d AND p.pos = g.pos
GROUP BY p.user_id, p.exact_cnt
"""

_BLOOM_POS = {
    j: f"({phash32_sql('{col}::VARCHAR', f'bf{j}')} % {BLOOM_BITS})"
    for j in range(BLOOM_HASHES)
}

_BLOOM_ORACLE = f"""
WITH build AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
bits AS (
  SELECT list_sort(list(DISTINCT pos)) AS bits FROM (
    SELECT unnest([{", ".join(_BLOOM_POS[j].format(col="c_custkey") for j in range(BLOOM_HASHES))}]) AS pos
    FROM build) t),
probed AS (
  SELECT o.o_custkey,
         ({" AND ".join("list_contains(bits, " + _BLOOM_POS[j].format(col="o_custkey") + ")" for j in range(BLOOM_HASHES))}) AS pass,
         (b.c_custkey IS NOT NULL) AS in_set
  FROM orders o CROSS JOIN bits LEFT JOIN build b ON o.o_custkey = b.c_custkey)
SELECT count(*) AS n_probe,
       sum(CASE WHEN pass THEN 1 ELSE 0 END) AS n_pass,
       sum(CASE WHEN in_set THEN 1 ELSE 0 END) AS n_true,
       sum(CASE WHEN pass AND NOT in_set THEN 1 ELSE 0 END) AS n_false_pos
FROM probed
"""

QUERIES = {
    "sketch_kmv_distinct": sketch_kmv_distinct,
    "sketch_cms_heavy": sketch_cms_heavy,
    "sketch_bloom_semijoin": sketch_bloom_semijoin,
    "sketch_approx_distinct": sketch_approx_distinct,
    "sketch_theta_intersect": sketch_theta_intersect,
    "sketch_theta_containment": sketch_theta_containment,
}

ORACLE = {
    "sketch_kmv_distinct": _KMV_ORACLE,
    "sketch_cms_heavy": _CMS_ORACLE,
    "sketch_bloom_semijoin": _BLOOM_ORACLE,
    "sketch_theta_intersect": _THETA_ORACLE,
    "sketch_theta_containment": _CONTAIN_ORACLE,
    # sketch_approx_distinct: intentionally no oracle (HLL is engine-specific)
}


HLL_P = 10  # 2^10 = 1024 registers
HLL_M = 1 << HLL_P
_HLL_REM_BITS = 32 - HLL_P  # 22-bit remainder per item
_HLL_S = _HLL_REM_BITS + 1  # scale exponent: rho ranges 1.._HLL_S
# alpha_m in ppm for m=1024: 0.7213 / (1 + 1.079/m)
_HLL_ALPHA_PPM = 720541


def _bitlen_case(expr: str) -> str:
    """Exact bit-length of a < 2^22 nonnegative integer as a portable CASE
    ladder (identical SQL text runs on Spark and DuckDB — no reliance on
    log2() being correctly rounded at powers of two, which neither engine
    guarantees)."""
    branches = " ".join(
        f"WHEN ({expr}) >= {1 << (b - 1)} THEN {b}"
        for b in range(_HLL_REM_BITS, 0, -1)
    )
    return f"CASE {branches} ELSE 0 END"


def sketch_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count estimate that is ORACLE-CHECKABLE — the
    cross-engine-exact twin of ``sketch_approx_distinct`` (whose native
    HLL++ registers are engine-private, so the driver can only rows-check
    it).  Built on the portable hash: register = top HLL_P hash bits,
    rho = leading-zero rank of the 22-bit remainder (exact CASE-ladder
    bit-length, no float log), registers merge by MAX — the mergeable-
    sketch contract that lets 1000 executors sketch partitions
    independently and combine in one reduce.

    The harmonic denominator is kept EXACT: sum over registers of
    2^(S - M_j) is an integer (empty registers contribute 2^S), so the
    raw estimate alpha*m^2*2^S/sum is two truncating integer divisions
    and the small-range linear-counting correction m*ln(m/V) uses the
    quantized-log idiom.  Every intermediate is deterministic on any
    engine — the whole sketch, not just its error bound, sits under the
    byte-strict parity gate.  At sf0.01 the estimator runs in the raw-HLL
    regime (~15k distinct orderkeys); at sf0.001 it crosses into the
    linear-counting branch (~1.5k < 2.5m) — both branches parity-pinned.

    Scale shape: one scan -> 1024-row register agg (map-side combinable
    MAX) -> 1-row arithmetic; the exact countDistinct alongside is the
    verification leg, same as the other sketch gates.
    """
    o = load(spark, sf_dir, "orders")
    regs = hll_registers(o, F.col("o_orderkey"))
    exact = o.agg(F.countDistinct("o_orderkey").alias("n_exact"))
    return (
        hll_estimate(regs)
        .crossJoin(F.broadcast(exact))
        .select(
            "m",
            F.col("n_exact").cast("long"),
            "n_zero_regs",
            "est_raw",
            "est_hll",
            F.expr("((est_hll - n_exact) * 1000000) div nullif(n_exact, 0)")
            .cast("long")
            .alias("err_ppm"),
        )
    )


def hll_ranks(df: DataFrame, col: Column, seed: str = "hll") -> DataFrame:
    """Per-row (idx, rho) of the portable HLL over ``col``: the register a
    row lands in and its leading-zero rank.  A register's value is the max
    rho over its rows (:func:`hll_registers`)."""
    h = phash32(col, seed)
    return df.select(
        (h / (1 << _HLL_REM_BITS)).cast("long").alias("idx"),
        (h % (1 << _HLL_REM_BITS)).alias("rem"),
    ).select("idx", F.expr(f"{_HLL_S} - ({_bitlen_case('rem')})").alias("rho"))


def hll_registers(df: DataFrame, col: Column, seed: str = "hll") -> DataFrame:
    """(idx, mr) register table for the portable HLL over ``col`` — the
    mergeable sketch state: registers from ANY partition of the data
    combine by ``groupBy(idx).max(mr)`` into the whole-data sketch, which
    is what lets executors sketch independently and the streaming
    maintainer (``streaming.hll_ingest``) keep per-batch ``max(rho)``
    partials of :func:`hll_ranks`."""
    return hll_ranks(df, col, seed).groupBy("idx").agg(F.max("rho").alias("mr"))


def hll_estimate(regs: DataFrame) -> DataFrame:
    """1-row estimate (m, n_zero_regs, est_raw, est_hll) from a register
    table — exact integer arithmetic end-to-end (see the operator doc)."""
    qln = lambda e: f"CAST(round(ln(CAST(({e}) AS DOUBLE)) * 1e6) AS BIGINT)"
    n1 = _HLL_ALPHA_PPM * (HLL_M * HLL_M) * (1 << _HLL_S)
    sk = regs.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_S} - mr)"))
        .alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    return (
        sk.withColumn(
            "sum_scaled",
            F.expr(
                f"coalesce(s_present, 0) + ({HLL_M} - n_present)"
                f" * {1 << _HLL_S}"
            ),
        )
        .withColumn("n_zero_regs", F.expr(f"{HLL_M} - n_present"))
        .withColumn("est_raw", F.expr(f"({n1} div sum_scaled) div 1000000"))
        .withColumn(
            "est_hll",
            F.expr(
                f"CASE WHEN est_raw <= {(5 * HLL_M) // 2} AND n_zero_regs > 0"
                f" THEN ({HLL_M} * ({qln(HLL_M)} - {qln('n_zero_regs')}))"
                f" div 1000000 ELSE est_raw END"
            ),
        )
        .select(
            F.lit(HLL_M).cast("long").alias("m"),
            F.col("n_zero_regs").cast("long"),
            F.col("est_raw").cast("long"),
            F.col("est_hll").cast("long"),
        )
    )


QUERIES["sketch_hll_portable"] = sketch_hll_portable


def _hll_oracle() -> str:
    h = phash32_sql("CAST(o_orderkey AS VARCHAR)", "hll")
    qln = lambda e: f"CAST(round(ln(({e})::DOUBLE) * 1e6) AS BIGINT)"
    n1 = _HLL_ALPHA_PPM * (HLL_M * HLL_M) * (1 << _HLL_S)
    return f"""
    WITH items AS (
      SELECT ({h}) // {1 << _HLL_REM_BITS} AS idx,
             ({h}) % {1 << _HLL_REM_BITS} AS rem
      FROM orders),
    regs AS (
      SELECT idx, max({_HLL_S} - ({_bitlen_case('rem')})) AS mr
      FROM items GROUP BY idx),
    sk AS (
      SELECT sum((1::BIGINT << ({_HLL_S} - mr)))::BIGINT AS s_present,
             count(*) AS n_present
      FROM regs),
    exact AS (SELECT count(DISTINCT o_orderkey) AS n_exact FROM orders),
    c AS (
      SELECT n_exact,
             s_present + ({HLL_M} - n_present) * {1 << _HLL_S} AS sum_scaled,
             {HLL_M} - n_present AS n_zero_regs
      FROM sk, exact),
    e AS (
      SELECT *, ({n1} // sum_scaled) // 1000000 AS est_raw FROM c),
    f AS (
      SELECT *,
             CASE WHEN est_raw <= {(5 * HLL_M) // 2} AND n_zero_regs > 0
                  THEN ({HLL_M} * ({qln(str(HLL_M))} - {qln('n_zero_regs')}))
                       // 1000000
                  ELSE est_raw END AS est_hll
      FROM e)
    SELECT {HLL_M}::BIGINT AS m, n_exact::BIGINT AS n_exact,
           n_zero_regs::BIGINT AS n_zero_regs, est_raw::BIGINT AS est_raw,
           est_hll::BIGINT AS est_hll,
           (((est_hll - n_exact) * 1000000) // nullif(n_exact, 0))::BIGINT
             AS err_ppm
    FROM f
    """


ORACLE["sketch_hll_portable"] = _hll_oracle()
