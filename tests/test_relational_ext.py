"""Extended relational operators (operators/relational_ext.py): the
skew-salted aggregate equals the direct groupBy, and the blocked fuzzy
join equals the unblocked one within its threshold.
"""

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.catalog import load
from mysql_cdc_debezium_starrocks_spark.operators.relational_ext import (
    join_skew_salted,
)

from .conftest import SF_SMOKE


def test_salted_agg_equals_direct(spark):
    salted = {
        (r.l_returnflag, r.l_linestatus): (r.sum_qty, r.sum_revenue, r.n_rows)
        for r in join_skew_salted(spark, SF_SMOKE).collect()
    }
    li = load(spark, SF_SMOKE, "lineitem")
    direct = {
        (r.l_returnflag, r.l_linestatus): (r.sum_qty, r.sum_revenue, r.n_rows)
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("decimal(18,2)")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("decimal(18,2)")
            .alias("sum_revenue"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .collect()
    }
    assert salted == direct


def test_fuzzy_join_equals_unblocked_within_threshold(spark):
    """The blocked join finds exactly the same-block near pairs the naive
    n^2 scan finds, and every emitted pair respects the threshold."""
    import itertools

    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.relational_ext import (
        FUZZY_MAX_DIST,
        join_fuzzy_parts,
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    names = sorted(
        r.p_name
        for r in load(spark, SF_SMOKE, "part").select("p_name").distinct().collect()
    )
    expect = {
        (a, b)
        for a, b in itertools.combinations(names, 2)
        if a.split()[-1] == b.split()[-1] and lev(a, b) <= FUZZY_MAX_DIST
    }
    got = {
        (r.name_a, r.name_b) for r in join_fuzzy_parts(spark, SF_SMOKE).collect()
    }
    assert got == expect and len(got) > 0
    for r in join_fuzzy_parts(spark, SF_SMOKE).collect():
        assert r.name_a < r.name_b and r.dist <= FUZZY_MAX_DIST
        assert r.name_a.split()[-1] == r.name_b.split()[-1]
