"""Extended relational operators (operators/relational_ext.py): the
skew-salted aggregate equals the direct groupBy.
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
