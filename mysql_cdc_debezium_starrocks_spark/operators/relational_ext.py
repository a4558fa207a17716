"""Extended relational surface: multi-dimensional aggregation (cube /
grouping sets / pivot), ranking-distribution windows (ntile / percent_rank /
lead / first-last frames), ordered string aggregation, and calendar
bucketing.

None of these appear in the reference's SQL (SURVEY.md §2.4-2.5 notes the
absence) — they complete the query layer to "a user of the reference could
run every query they run today, and the ones they'd write tomorrow" on the
same engine.  All built-in expressions (JVM, codegen); every query is
DuckDB-oracle-checked.

Scale notes: cube/rollup expand the grouping set inside the partial
aggregate (one shuffle, rows × set-count map-side); pivot with an explicit
value list is a single conditional-agg pass (never two); window queries
shuffle once on their partition key.  Determinism discipline: every window
ordering carries a unique tiebreak column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ._artifacts import artifact
from .relational import _dec


def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in one shuffle."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).alias("revenue"),
        )
    )


def grouping_sets_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((status), (priority)) — expressed as the union of the
    two single-key aggregates, the shape Catalyst expands grouping sets into."""
    o = load(spark, sf_dir, "orders")
    by_status = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).select(
        "o_orderstatus", F.lit(None).cast("string").alias("o_orderpriority"), "n"
    )
    by_prio = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(None).cast("string").alias("o_orderstatus"), "o_orderpriority", "n"
    )
    return by_status.unionByName(by_prio)


def pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot status onto columns per priority.  The explicit value list keeps
    it a single conditional-agg pass (no extra values-discovery job)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment by price + per-quartile rollup, via DISTRIBUTED
    exact global ranking — ``F.ntile().over(Window.orderBy(...))`` would
    move every row to ONE partition (WindowExec has no range-sort mode),
    the classic 100 TB single-executor OOM.

    Instead: range-repartition on the (unique) sort key, number rows
    within each range partition, and add per-partition offsets — a
    32-long broadcast — to get the exact global rank with no
    single-partition stage.  The SQL ntile bucket is then closed-form
    from (rank, n): the first ``n mod 4`` buckets take ``n div 4 + 1``
    rows, the rest ``n div 4`` (the tie-free total order makes this
    bit-identical to the oracle's ``ntile(4) OVER``).
    """
    o = load(spark, sf_dir, "orders")
    # session-memoized: the range-partitioned frame must be computed once
    # (both the counts and ranked branches read the SAME partitioning) and
    # a bare per-call persist would strand one cached copy per bench run
    sorted_o = artifact(
        spark,
        sf_dir,
        "ntile_sorted",
        lambda: o.select(_dec("o_totalprice").alias("price"), "o_orderkey")
        .repartitionByRange(32, F.col("price"), F.col("o_orderkey")),
    )
    pid = F.spark_partition_id()
    counts = (
        sorted_o.groupBy(pid.alias("pid"))
        .agg(F.count(F.lit(1)).alias("pc"))
    )
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid",
        F.coalesce(F.sum("pc").over(woff), F.lit(0)).alias("off"),
        F.sum("pc").over(
            Window.orderBy("pid").rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    wrn = Window.partitionBy("pid").orderBy("price", "o_orderkey")
    ranked = (
        sorted_o.withColumn("pid", pid)
        .withColumn("rn", F.row_number().over(wrn))
        .join(F.broadcast(offsets), "pid")
        .select(
            "price",
            (F.col("off") + F.col("rn")).alias("r"),
            F.expr("n div 4").alias("q"),
            F.expr("n % 4").alias("m"),
        )
    )
    bucket = F.when(
        F.col("r") <= F.col("m") * (F.col("q") + 1),
        F.expr("(r + q) div (q + 1)"),
    ).otherwise(F.expr("m + (r - m * (q + 1) + q - 1) div q"))
    return (
        ranked.select("price", bucket.cast("int").alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )
    )


def percent_rank_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank of customer balance within market segment (distribution
    ranking; one shuffle on the segment key)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 25 == 0)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal"), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).cast("decimal(9,6)").alias("bal_pct_rank"),
    )


def lead_reorder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days until each customer's next order (lead + datediff) — the
    inter-arrival-time primitive; one shuffle on custkey."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 7)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate", 1).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(nxt, F.col("o_orderdate")).alias("days_to_next"),
    )


def first_last_order_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last order value per customer over the full partition frame —
    via min_by/max_by, the partial-aggregatable formulation (a
    first_value/last_value window would shuffle every row unreduced)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 3)
    return (
        o.groupBy("o_custkey")
        .agg(
            F.min_by(
                _dec("o_totalprice"), F.struct("o_orderdate", "o_orderkey")
            ).alias("first_price"),
            F.max_by(
                _dec("o_totalprice"), F.struct("o_orderdate", "o_orderkey")
            ).alias("last_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def string_agg_nation_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: distinct market segments per nation as a
    sorted CSV (collect_set stays bounded: segment cardinality, not rows)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_set("c_mktsegment"))
            ).alias("segments"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing: date_trunc month + exact decimal revenue, the
    standard reporting rollup (one shuffle on ~84 month keys)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).alias("revenue"),
        )
    )


def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by portable key hash, with grouped
    verification stats.

    The production sampling pattern for 100 TB pipelines: ``hash(key) % 100
    < rate`` is reproducible across runs/engines (unlike ``rand()``),
    composes with partition pruning, and needs no shuffle — the filter is
    map-side at the scan.  ``sample_mod`` keeps the naive key-mod variant;
    this is the hash version that stays uniform under clustered key ranges.
    """
    from ..functions import phash32

    o = load(spark, sf_dir, "orders")
    return (
        o.filter(phash32(F.col("o_orderkey"), "smp") % 100 < 10)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).alias("revenue"),
        )
    )


QUERIES = {
    "sample_hash": sample_hash,
    "cube_counts": cube_counts,
    "grouping_sets_union": grouping_sets_union,
    "pivot_status_matrix": pivot_status_matrix,
    "ntile_quartiles": ntile_quartiles,
    "percent_rank_by_segment": percent_rank_by_segment,
    "lead_reorder_gap": lead_reorder_gap,
    "first_last_order_span": first_last_order_span,
    "string_agg_nation_segments": string_agg_nation_segments,
    "monthly_revenue": monthly_revenue,
}

def _sample_hash_oracle() -> str:
    from ..functions import phash32_sql

    h = phash32_sql("CAST(o_orderkey AS VARCHAR)", "smp")
    return f"""
        SELECT o_orderstatus, count(*) AS n,
               sum(CAST(o_totalprice AS DECIMAL(12,2))) AS revenue
        FROM orders WHERE {h} % 100 < 10
        GROUP BY o_orderstatus
    """


ORACLE = {
    "sample_hash": _sample_hash_oracle(),
    "cube_counts": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               sum(CAST(o_totalprice AS DECIMAL(12,2))) AS revenue
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    "grouping_sets_union": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    "pivot_status_matrix": """
        SELECT o_orderpriority,
               count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
               count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
               count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        FROM orders GROUP BY o_orderpriority
    """,
    "ntile_quartiles": """
        SELECT quartile, count(*) AS n, min(price) AS min_price,
               max(price) AS max_price
        FROM (
            SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS price,
                   CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER)
                       AS quartile
            FROM orders
        ) t GROUP BY quartile
    """,
    "percent_rank_by_segment": """
        SELECT c_custkey, c_mktsegment,
               CAST(round(percent_rank() OVER (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal, c_custkey), 6) AS DECIMAL(9,6))
                   AS bal_pct_rank
        FROM customer WHERE c_custkey % 25 = 0
    """,
    "lead_reorder_gap": """
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day', o_orderdate,
                    lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)) AS INTEGER)
                   AS days_to_next
        FROM orders WHERE o_custkey % 100 = 7
    """,
    "first_last_order_span": """
        SELECT o_custkey, first_price, last_price, n_orders FROM (
            SELECT o_custkey,
                   first_value(price) OVER w AS first_price,
                   last_value(price)  OVER w AS last_price,
                   count(*) OVER (PARTITION BY o_custkey) AS n_orders,
                   row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS rn
            FROM (SELECT o_custkey, o_orderdate, o_orderkey,
                         CAST(o_totalprice AS DECIMAL(12,2)) AS price
                  FROM orders WHERE o_custkey % 50 = 3)
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING)
        ) t WHERE rn = 1
    """,
    "string_agg_nation_segments": """
        SELECT n_name,
               array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',')
                   AS segments,
               count(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "monthly_revenue": """
        SELECT date_trunc('month', o_orderdate) AS month,
               count(*) AS n_orders,
               sum(CAST(o_totalprice AS DECIMAL(12,2))) AS revenue
        FROM orders GROUP BY 1
    """,
}


def agg_top1_per_group_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most expensive order per customer via ``max_by`` — the
    partial-aggregatable argmax, NOT a ranking window: map-side combine
    reduces each partition to one candidate per customer before the
    shuffle, where row_number-top-1 would move every row.  (This is the
    same reduction the CDC apply uses for last-write-wins.)

    Deterministic tie-break: the ordering key packs (price_cents, -orderkey)
    into one comparable bigint (price_cents * 1e8 - orderkey), so equal
    prices resolve to the smallest orderkey identically on both engines.
    """
    o = load(spark, sf_dir, "orders")
    cents = (_dec("o_totalprice") * 100).cast("long")
    ordk = cents * F.lit(100_000_000).cast("long") - F.col("o_orderkey")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", ordk).alias("top_orderkey"),
        F.max(_dec("o_totalprice")).alias("top_price"),
    )


QUERIES["agg_top1_per_group_argmax"] = agg_top1_per_group_argmax
ORACLE["agg_top1_per_group_argmax"] = """
    SELECT o_custkey,
           arg_max(o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                     * 100000000 - o_orderkey) AS top_orderkey,
           max(CAST(o_totalprice AS DECIMAL(12,2))) AS top_price
    FROM orders GROUP BY o_custkey
"""


SALT_N = 16


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation over a pathologically low-cardinality
    key (l_returnflag x l_linestatus: 4 live groups for the whole fact
    table) — the skew-mitigation pattern for when one reduce key would
    otherwise receive the entire table.

    Phase 1 groups by (key, salt) with salt = l_orderkey % SALT_N, spreading
    each hot key over SALT_N reducers; phase 2 re-aggregates the SALT_N
    partials per key.  Every aggregate used is associative (sum/count), so
    the result is bit-identical to the direct groupBy — which is exactly
    what the DuckDB oracle computes, making the parity gate a proof that
    salting preserved semantics.  At 100 TB phase 1 is the whole job
    (map-side combine then SALT_N*4 rows on the wire); phase 2 is free.
    AQE's skew handling covers sort-merge JOIN skew automatically; explicit
    salting remains the tool for aggregation skew like this one.
    """
    li = load(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("salt", F.col("l_orderkey") % SALT_N)
        .groupBy("l_returnflag", "l_linestatus", "salt")
        .agg(
            F.sum(_dec("l_quantity")).alias("p_qty"),
            F.sum(_dec("l_extendedprice")).alias("p_rev"),
            F.count(F.lit(1)).alias("p_n"),
        )
    )
    return (
        partial.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("p_qty").cast("decimal(18,2)").alias("sum_qty"),
            F.sum("p_rev").cast("decimal(18,2)").alias("sum_revenue"),
            F.sum("p_n").cast("long").alias("n_rows"),
        )
    )


QUERIES["join_skew_salted"] = join_skew_salted
ORACLE["join_skew_salted"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
             AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
             AS sum_revenue,
           count(*)::BIGINT AS n_rows
    FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


FUZZY_MAX_DIST = 2  # edit-distance threshold for the fuzzy name match


def join_fuzzy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution over part names: distinct-name pairs within
    Levenshtein distance FUZZY_MAX_DIST, blocked by the name's last word
    (the category noun) — the dimension-cleanup join a CDC consumer runs
    when upstream systems spell the same entity differently.

    Scale shape: the classic blocked similarity join — candidate pairs are
    generated ONLY within a blocking key (never the n^2 cross product), and
    the edit distance runs on the candidates.  Levenshtein is Spark's
    built-in JVM expression (codegen'd, no Python); the name table is the
    DISTINCT dimension projection, so the join input is |distinct names|,
    not |rows|, and carries per-name row counts forward for impact triage.
    """
    p = load(spark, sf_dir, "part")
    names = (
        p.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("blk", F.element_at(F.split("p_name", " "), -1))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "blk",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "blk",
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
    )


QUERIES["join_fuzzy_parts"] = join_fuzzy_parts
ORACLE["join_fuzzy_parts"] = f"""
    WITH names AS (
      SELECT p_name, count(*) AS n_parts,
             str_split(p_name, ' ')[-1] AS blk
      FROM part GROUP BY p_name)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
"""
