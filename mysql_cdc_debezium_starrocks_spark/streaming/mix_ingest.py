"""Mixture-sampling at ingest: realize a target source mixture on a stream.

The batch pair (``operators.stats.mix_weights_by_source`` /
``mix_sample_apply``) plans and cuts a weighted corpus from a finished
snapshot; a pipeline ingesting continuously wants the same policy applied
AS DOCS ARRIVE, with rates that track the observed mixture so far.  This
maintainer keeps a **per-source token ledger** (batch-id-keyed contribution
files, the same idempotency scheme as ``rollup``/``dedup_ingest``) and, per
micro-batch:

1. counts the new docs' tokens per source (one partial-agg'd groupBy);
2. folds them with the ledger (batches < current id only, so crash-replay
   recomputes identical state) into cumulative shares in integer ppm;
3. derives per-source keep rates ``min(1e6, target_ppm * 1e6 div
   share_ppm)`` — over-represented sources sample down, under-represented
   ones pass whole; sources with no target drop entirely (the batch
   operator's convention);
4. filters the batch by the seeded portable hash (``phash32(doc_id,
   'mix') % 1e6 < rate``) — membership is a pure function of (doc_id,
   cumulative ledger), so replays are byte-identical and the SAME doc
   would be kept on any executor of any cluster;
5. appends kept docs under ``kept/batch=<id>`` and the batch's counts
   under ``counts/batch=<id>`` (batch-keyed overwrites).

Scale: ledger state is |sources| rows per batch, folded into a committed
baseline by the retention hook (``compact_mix_ingest`` — the same scheme as
``compact_agg_mv``), so dir counts and file listings stay O(keep_last) on a
long-lived stream; the per-batch work is one groupBy + one broadcast join
— O(batch), never O(corpus).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import phash32, words
from ..operators.stats import MIX_TARGET_SHARE
from ._state import fold_verbatim, read_fold_paths, start_maintainer

RATE_SCALE = 1_000_000

# integer-ppm targets derived once from the published batch policy
TARGET_PPM = {s: round(sh * RATE_SCALE) for s, sh in MIX_TARGET_SHARE.items()}


def ingest_mix_batch(
    spark: SparkSession, state_dir: str, docs: DataFrame, batch_id: int
) -> None:
    new = docs.select(
        "doc_id", "source", F.size(words(F.col("text"))).alias("tk")
    ).persist()
    try:
        counts = new.groupBy("source").agg(F.sum("tk").alias("tokens"))
        prev = read_fold_paths(
            os.path.join(state_dir, "counts"), before=batch_id
        )
        running = counts
        if prev:
            store = spark.read.parquet(*prev)
            running = (
                store.unionByName(counts)
                .groupBy("source")
                .agg(F.sum("tokens").alias("tokens"))
            )
        total = running.agg(F.sum("tokens").alias("total"))
        target = F.lit(0)
        for src, ppm in TARGET_PPM.items():
            target = F.when(F.col("source") == src, F.lit(ppm)).otherwise(target)
        rates = (
            running.crossJoin(F.broadcast(total))
            .withColumn("tgt", target.cast("long"))
            .withColumn(
                "share_ppm",
                F.expr(f"(tokens * {RATE_SCALE}) div total").cast("long"),
            )
            .withColumn(
                "rate_ppm",
                # a TARGETED source whose cumulative share rounds to zero
                # ppm (only empty docs seen, or sub-ppm of a mature ledger)
                # has no observed share to sample against: pass it whole
                # rather than NULL-dropping its rows.  An UNTARGETED source
                # drops entirely regardless of share — the module's
                # documented convention; without the tgt > 0 gate a new
                # source first appearing in a mature stream would slip
                # through at 100% and permanently pollute the kept output.
                F.when(
                    F.col("share_ppm") == 0,
                    F.when(F.col("tgt") > 0, F.lit(RATE_SCALE))
                    .otherwise(F.lit(0))
                    .cast("long"),
                ).otherwise(
                    F.least(
                        F.lit(RATE_SCALE).cast("long"),
                        F.expr(f"(tgt * {RATE_SCALE}) div share_ppm").cast("long"),
                    )
                ),
            )
            .select("source", "share_ppm", "rate_ppm")
        )
        kept = (
            new.join(F.broadcast(rates), "source")
            .filter(phash32(F.col("doc_id"), "mix") % RATE_SCALE < F.col("rate_ppm"))
            .select("doc_id", "source", "tk", "rate_ppm")
        )
        kept.write.mode("overwrite").parquet(
            os.path.join(state_dir, "kept", f"batch={batch_id}")
        )
        counts.write.mode("overwrite").parquet(
            os.path.join(state_dir, "counts", f"batch={batch_id}")
        )
    finally:
        new.unpersist()


def kept_docs(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Every doc the sampler has kept so far (with the rate that kept it)."""
    paths = read_fold_paths(os.path.join(state_dir, "kept"))
    if not paths:
        return None
    return spark.read.parquet(*paths)


def ledger(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Cumulative per-source token counts observed so far."""
    paths = read_fold_paths(os.path.join(state_dir, "counts"))
    if not paths:
        return None
    return (
        spark.read.parquet(*paths)
        .groupBy("source")
        .agg(F.sum("tokens").alias("tokens"))
    )


def compact_mix_ingest(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Retention hook (the ``compact_agg_mv`` analog): fold old per-batch
    contribution dirs into committed baselines so a long-running stream
    keeps O(keep_last) dirs instead of one per batch forever.  The token
    ledger re-sums on fold (schema-preserving — folded counts stay exactly
    the counts a full re-read would produce); kept docs copy verbatim.
    Crash-mid-compaction is invisible (committed-marker-last scheme)."""
    fold_verbatim(
        spark,
        os.path.join(state_dir, "counts"),
        keep_last,
        agg=lambda df: df.groupBy("source").agg(F.sum("tokens").alias("tokens")),
    )
    fold_verbatim(spark, os.path.join(state_dir, "kept"), keep_last)


def start_mix_ingest(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    compact_every: int | None = None,
    keep_last: int = 2,
):
    """Wire a document stream (doc_id, source, text) into the sampler.

    ``compact_every``: fold contribution dirs every Nth batch
    (:func:`compact_mix_ingest`) — bounded state on a long-lived stream."""
    return start_maintainer(
        source,
        lambda df, bid: ingest_mix_batch(df.sparkSession, state_dir, df, bid),
        checkpoint_dir,
        trigger_seconds,
        compact=lambda s: compact_mix_ingest(s, state_dir, keep_last),
        compact_every=compact_every,
    )
