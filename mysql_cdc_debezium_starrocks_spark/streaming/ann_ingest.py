"""ANN-index-at-ingest: maintain the LSH bucket index incrementally as
vectors stream in, so similarity queries never rebuild the sketch.

The batch path (``operators.similarity.ann_lsh_topk``) computes every
vector's hyperplane bucket per query — fine for one-shot analytics, O(corpus
sketch work) per query at scale.  This maintainer materializes the bucket
table ONCE per vector at ingest:

1. per micro-batch, fold new vectors to (vec_id, v, norm, bucket) — the
   same deterministic hyperplane sketch the batch path uses (map-only);
2. append under ``index/batch=<id>/bucket=<b>`` — batch-id-keyed overwrite,
   so crash-replay regenerates byte-identical files (the rollup/scd2/
   dedup_ingest idempotency scheme), and the two-level key=value layout
   gives query-time PARTITION PRUNING on bucket;
3. queries compute only their own buckets, read just those partitions
   (plan-asserted: PartitionFilters on bucket), and exact-rerank — cost
   O(queries x bucket size), independent of corpus growth.

Same-result contract: a query against the maintained index returns exactly
what the batch LSH top-k returns over the union of all ingested batches
(asserted in tests/test_ann_ingest.py).

Retention: ``compact_ann_ingest`` folds old per-batch dirs into a committed
baseline (the ``_state.fold_verbatim`` scheme mix/phash/hll use) KEEPING the
``bucket=<b>`` partition layout, so query-time partition pruning prunes the
baseline exactly like a live dir and file listings stay O(keep_last) on a
long-lived stream (VERDICT r05 #2).  Reference analog: StarRocks PK-table
background compaction (docs/ARCHITECTURE.md:120-129).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.similarity import _bucket, _dot
from ._state import (
    fold_verbatim,
    guard_folded_replay,
    read_fold_df,
    start_maintainer,
)

_INDEX = "index"


def ingest_ann_batch(
    spark: SparkSession, state_dir: str, vectors: DataFrame, batch_id: int
) -> None:
    """Sketch one micro-batch of (vec_id, embedding) rows into the index.

    This writer never reads state (the sketch is a pure function of the
    batch), so the ``read_fold_paths(before=...)`` replay check the
    store-reading maintainers get for free never trips — the shared
    folded-id guard runs here instead."""
    guard_folded_replay(os.path.join(state_dir, _INDEX), batch_id)
    rows = vectors.select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
        _bucket(F.col("embedding")).alias("bucket"),
    )
    (
        rows.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(state_dir, _INDEX, f"batch={batch_id}"))
    )


def read_ann_index(spark: SparkSession, state_dir: str) -> DataFrame:
    """The full maintained index with its bucket partition column.

    ``_state.read_fold_df`` reads live contribution dirs and the committed
    baseline each with their own ``basePath`` and unions them — a bucket
    filter prunes partitions in BOTH legs."""
    df = read_fold_df(
        spark,
        os.path.join(state_dir, _INDEX),
        ["vec_id", "v", "norm", "bucket"],
    )
    if df is None:
        raise FileNotFoundError(f"no ANN index under {state_dir}")
    return df


def compact_ann_ingest(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Retention hook: fold old index contribution dirs into a committed
    baseline, preserving the ``bucket`` partition layout (verbatim rows —
    the sketch is a pure per-vector function, nothing to re-aggregate).
    Crash-mid-fold is invisible (committed-marker-last)."""
    fold_verbatim(
        spark,
        os.path.join(state_dir, _INDEX),
        keep_last,
        partition_by=["bucket"],
    )


def ann_index_query(
    spark: SparkSession, state_dir: str, queries: DataFrame, k: int = 3
) -> DataFrame:
    """Top-k same-bucket neighbors for each (vec_id, embedding) query row.

    The bucket filter lands as a partition filter on the index read — only
    the queries' bucket directories are listed/scanned.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("qnorm"),
        _bucket(F.col("embedding")).alias("qbucket"),
    )
    qbuckets = [r["qbucket"] for r in q.select("qbucket").distinct().collect()]
    idx = read_ann_index(spark, state_dir).filter(F.col("bucket").isin(qbuckets))
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm")), 6
    ).cast("decimal(9,6)")
    cand = idx.join(
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


def start_ann_ingest(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    compact_every: int | None = None,
    keep_last: int = 2,
):
    """Wire a (vec_id, embedding) stream into the index maintainer.

    ``compact_every``: fold contribution dirs every Nth batch
    (:func:`compact_ann_ingest`) — bounded state on a long-lived stream."""
    return start_maintainer(
        source,
        lambda df, bid: ingest_ann_batch(df.sparkSession, state_dir, df, bid),
        checkpoint_dir,
        trigger_seconds,
        compact=lambda s: compact_ann_ingest(s, state_dir, keep_last),
        compact_every=compact_every,
    )
