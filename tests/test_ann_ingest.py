"""Incrementally-maintained LSH ANN index (streaming/ann_ingest.py).

Contract: querying the maintained index returns EXACTLY what the batch LSH
top-k computes over the union of all ingested batches; the index read is
partition-pruned to the queries' buckets; replay of a crashed batch
regenerates identical index rows; E2E under foreachBatch.
"""

import os

import pyspark.sql.functions as F

from mysql_cdc_debezium_starrocks_spark.streaming.ann_ingest import (
    ann_index_query,
    ingest_ann_batch,
    read_ann_index,
    start_ann_ingest,
)

SF = "/root/testdata/sf0.001"


def _halves(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    return e.filter(F.col("vec_id") % 2 == 0), e.filter(F.col("vec_id") % 2 == 1)


def _batch_reference(spark, queries, k):
    """Batch-side ground truth over the full corpus, same semantics."""
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        _bucket,
        _dot,
    )
    from pyspark.sql.window import Window

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
        _bucket(F.col("embedding")).alias("bucket"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("qnorm"),
        _bucket(F.col("embedding")).alias("qbucket"),
    )
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm")), 6
    ).cast("decimal(9,6)")
    cand = e.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
        )
    )


def test_index_query_matches_batch_lsh(spark, tmp_path):
    state = str(tmp_path / "ann")
    a, b = _halves(spark)
    ingest_ann_batch(spark, state, a, 0)
    ingest_ann_batch(spark, state, b, 1)

    queries = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("vec_id") % 10 == 0
    )
    got = sorted(map(tuple, ann_index_query(spark, state, queries, k=3).collect()))
    want = sorted(map(tuple, _batch_reference(spark, queries, 3).collect()))
    assert got == want and got


def test_query_read_is_partition_pruned(spark, tmp_path):
    state = str(tmp_path / "ann")
    a, b = _halves(spark)
    ingest_ann_batch(spark, state, a, 0)
    ingest_ann_batch(spark, state, b, 1)
    queries = spark.read.parquet(f"{SF}/embeddings.parquet").limit(1)
    df = ann_index_query(spark, state, queries, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "bucket" in plan.split("PartitionFilters: [", 1)[1][:120]


def test_replay_regenerates_identical_index(spark, tmp_path):
    state = str(tmp_path / "ann")
    a, b = _halves(spark)
    ingest_ann_batch(spark, state, a, 0)
    ingest_ann_batch(spark, state, b, 1)
    before = sorted(
        map(tuple, read_ann_index(spark, state).select("vec_id", "bucket").collect())
    )
    ingest_ann_batch(spark, state, b, 1)  # crash replay
    after = sorted(
        map(tuple, read_ann_index(spark, state).select("vec_id", "bucket").collect())
    )
    assert before == after


def test_streaming_e2e(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src)
    a, b = _halves(spark)
    a.write.mode("append").parquet(src)
    b.write.mode("append").parquet(src)
    stream = spark.readStream.schema(a.schema).parquet(src)
    q = start_ann_ingest(spark, stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    total = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert read_ann_index(spark, state).count() == total
