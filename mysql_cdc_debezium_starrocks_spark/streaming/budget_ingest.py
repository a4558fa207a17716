"""Token-budget admission at ingest: fill per-source token budgets on a
stream, first-come-first-admitted.

The batch pair (``operators.stats.sample_token_budget`` /
``mix_budget_report``) cuts a finished snapshot in deterministic
hash-priority order — the reproducible allocation a mixture owner signs
off on.  A pipeline ingesting continuously wants the complementary
ADMISSION view: docs arrive, each source's budget fills, and once a
source's budget is exhausted further docs are rejected — the shape of a
collection job with per-source quotas ("crawl until we have N tokens of
each").  Arrival order IS the priority here (the batch twin re-cuts the
final corpus reproducibly afterwards; this maintainer bounds what gets
collected at all).

Per micro-batch (the ``ingest_mix_batch`` ledger scheme):

1. count the new docs' tokens (one narrow projection);
2. read the committed per-source ledger (batches < current id only, so a
   crash-replay recomputes byte-identical admissions);
3. within the batch, rank docs per source by ``doc_id`` (replay-stable:
   Spark file batches have no row order, so arrival order within a batch
   is pinned to the id) and admit a doc iff the source's cumulative SEEN
   token stream INCLUDING it still fits the budget — the batch operator's
   exact prefix rule applied to arrival order.  The cut is monotone (one
   oversized doc that crosses the boundary closes the source, exactly as
   it ends the batch operator's priority prefix), deterministic, and —
   pinned by test — EQUAL to ``sample_token_budget`` whenever arrival
   order equals the hash-priority order;
4. append admitted docs under ``kept/batch=<id>`` and the batch's
   per-source (tokens_seen, tokens_admitted, docs_seen, docs_admitted)
   under ``counts/batch=<id>`` (batch-keyed overwrite = idempotent).

``budget_report`` folds the counts store into the per-source fill view —
the streaming twin of ``mix_budget_report``'s columns.

Scale: ledger state is |sources| rows per batch and the retention hook
(``compact_budget_ingest``, the ``compact_mix_ingest`` scheme) folds it
into a committed baseline, so dir counts stay O(keep_last) on a long
stream.  The intra-batch per-source window is bounded by the MICRO-BATCH
size (micro-batches are sized by ``max_files_per_trigger``), never the
corpus — the corpus-scale prefix sum lives only in the batch operator,
which runs the distributed range-partition form (stats.py
``_token_budget_cum``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import words
from ..operators.stats import TOKEN_BUDGET
from ._state import fold_verbatim, read_fold_paths, start_maintainer


def ingest_budget_batch(
    spark: SparkSession,
    state_dir: str,
    docs: DataFrame,
    batch_id: int,
    budget: int = TOKEN_BUDGET,
) -> None:
    new = docs.select(
        "doc_id", "source", F.size(words(F.col("text"))).cast("long").alias("tk")
    ).persist()
    try:
        prev = read_fold_paths(
            os.path.join(state_dir, "counts"), before=batch_id
        )
        if prev:
            # the ledger folds tokens SEEN, not admitted: admission is the
            # prefix rule on the cumulative arrival stream (monotone — a
            # source whose stream crossed the budget stays closed), the
            # batch operator's semantics verbatim
            used = (
                spark.read.parquet(*prev)
                .groupBy("source")
                .agg(F.sum("tokens_seen").cast("long").alias("used"))
            )
        else:
            used = spark.createDataFrame([], "source string, used long")
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )  # bounded by the micro-batch, never the corpus (module docstring)
        admitted = (
            new.join(F.broadcast(used), "source", "left")
            .withColumn("_used", F.coalesce("used", F.lit(0)).cast("long"))
            .withColumn("_run", F.sum("tk").over(w).cast("long"))
            .withColumn("admit", (F.col("_used") + F.col("_run")) <= budget)
            .persist()
        )
        try:
            (
                admitted.filter("admit")
                .select("doc_id", "source", "tk")
                .write.mode("overwrite")
                .parquet(os.path.join(state_dir, "kept", f"batch={batch_id}"))
            )
            (
                admitted.groupBy("source")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("docs_seen"),
                    F.sum("tk").cast("long").alias("tokens_seen"),
                    F.sum(F.when(F.col("admit"), 1).otherwise(0))
                    .cast("long")
                    .alias("docs_admitted"),
                    F.sum(F.when(F.col("admit"), F.col("tk")).otherwise(0))
                    .cast("long")
                    .alias("tokens_admitted"),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(state_dir, "counts", f"batch={batch_id}"))
            )
        finally:
            admitted.unpersist()
    finally:
        new.unpersist()


def admitted_docs(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Every doc admitted so far (doc_id, source, tk)."""
    paths = read_fold_paths(os.path.join(state_dir, "kept"))
    return spark.read.parquet(*paths) if paths else None


def budget_report(
    spark: SparkSession, state_dir: str, budget: int = TOKEN_BUDGET
) -> DataFrame | None:
    """Per-source budget-fill view — the streaming twin of
    ``mix_budget_report``: corpus totals seen, admitted totals, and the
    integer-ppm budget fill."""
    paths = read_fold_paths(os.path.join(state_dir, "counts"))
    if not paths:
        return None
    return (
        spark.read.parquet(*paths)
        .groupBy("source")
        .agg(
            F.sum("docs_seen").cast("long").alias("docs"),
            F.sum("tokens_seen").cast("long").alias("tokens"),
            F.sum("docs_admitted").cast("long").alias("kept_docs"),
            F.sum("tokens_admitted").cast("long").alias("kept_tokens"),
        )
        .withColumn(
            "fill_ppm",
            F.expr(f"(kept_tokens * 1000000) div {int(budget)}").cast("long"),
        )
    )


def compact_budget_ingest(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Retention hook: fold kept/counts contribution dirs into committed
    baselines (the ``compact_mix_ingest`` scheme), bounding live dirs on a
    long-lived stream.  The counts fold re-sums per source so the baseline
    stays |sources| rows."""

    def resum(df: DataFrame) -> DataFrame:
        return df.groupBy("source").agg(
            F.sum("docs_seen").cast("long").alias("docs_seen"),
            F.sum("tokens_seen").cast("long").alias("tokens_seen"),
            F.sum("docs_admitted").cast("long").alias("docs_admitted"),
            F.sum("tokens_admitted").cast("long").alias("tokens_admitted"),
        )

    fold_verbatim(
        spark, os.path.join(state_dir, "counts"), keep_last, agg=resum
    )
    fold_verbatim(spark, os.path.join(state_dir, "kept"), keep_last)


def start_budget_ingest(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    budget: int = TOKEN_BUDGET,
    trigger_seconds: int | None = None,
):
    """Continuous admission over a (doc_id, source, text) parquet stream —
    the ``start_mix_ingest`` wiring."""
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .parquet(source_dir)
    )

    def _apply(df: DataFrame, bid: int) -> None:
        ingest_budget_batch(spark, state_dir, df, bid, budget=budget)

    return start_maintainer(
        stream,
        _apply,
        checkpoint_dir,
        trigger_seconds,
        name=f"budget_ingest_{os.path.basename(state_dir)}",
    )
