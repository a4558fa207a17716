"""CUSUM-at-ingest: incremental level-shift detection on an hourly-rollup
stream — the streaming twin of ``operators.stats.ts_changepoint_cusum``.

The batch operator scores a finished series; a monitoring pipeline wants
the score AS HOURS ARRIVE without rescanning history.  The closed form
``s_t = prefix_t - min(0, min_{i<=t} prefix_i)`` makes CUSUM mergeable
with O(1) carry state per key: after any prefix of the series, everything
the future needs is ``(prefix_end, min_prefix_so_far)`` — two integers per
event_type.  Per micro-batch:

1. join the batch's (event_type, hr, cnt) rows to the FIXED calibration
   moments (``calibrate_cusum`` — streaming CUSUM scores against reference
   statistics, not a moving target; recalibrate explicitly when the
   regime legitimately changes);
2. one batch-local window computes the prefix continuation from the
   carry, the running min folds with the carried min, and the score pops
   out row-by-row — identical to the batch closed form over the
   concatenated series (pytest-pinned equality);
3. scores append under ``scores/batch=<id>``, the two-integer carry as a
   ``_state`` snapshot chain under ``carry/batch=<id>`` — batch-keyed
   overwrites reading only state `` < batch_id``, so crash-replay
   regenerates byte-identical output (the rollup/mix/dedup idempotency
   scheme).

Input contract: rows are FINALIZED hourly rollups (downstream of a
watermarked window agg — each (event_type, hr) arrives exactly once, in
hour order per type).  Types absent from the calibration table are
dropped (no reference to score against) — count them before trusting a
quiet dashboard.

Scale: per batch one broadcast join (|types| rows) + one window over the
batch's rows; carry state is 2 longs per type regardless of stream
length.  Retention: ``compact_cusum_ingest`` folds old score dirs into a
committed baseline and prunes obsolete carry dirs (only the newest
``keep_last`` can ever be read again), so a long-lived stream keeps
O(keep_last) dirs.

Reference analog: none — the reference's monitoring is row-count lag
(monitor.sh:10-25); this is the statistical-drift counterpart a
training-data pipeline runs on ingest volumes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.stats import CUSUM_K_MILLI
from ._state import (
    fold_verbatim,
    guard_folded_replay,
    newest_snapshot,
    prune_snapshots,
    read_fold_paths,
    snapshot_ids,
    start_maintainer,
    write_snapshot,
)

CUSUM_ALARM_MILLI = 5_000  # default decision threshold H = 5 sigma


def calibrate_cusum(state_dir: str, hourly: DataFrame) -> None:
    """Write per-type reference moments (mean_q, sigma_q) from a finished
    calibration window of (event_type, hr, cnt) rows — the integer-moment
    idiom of the batch operator (sigma = floor(IEEE sqrt of the biased
    variance), exact cross-engine)."""
    mom = (
        hourly.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cnt").alias("sx"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("sxx"),
        )
        .select(
            "event_type",
            F.expr("sx div n").cast("long").alias("mean_q"),
            F.expr(
                "CAST(floor(sqrt(CAST(sxx div n - (sx div n) * (sx div n)"
                " AS DOUBLE))) AS BIGINT)"
            ).alias("sigma_q"),
        )
    )
    mom.write.mode("overwrite").parquet(os.path.join(state_dir, "calib"))


def ingest_cusum_batch(
    spark: SparkSession,
    state_dir: str,
    rows: DataFrame,
    batch_id: int,
    k_milli: int = CUSUM_K_MILLI,
) -> None:
    """Score one micro-batch of finalized (event_type, hr, cnt) rows.

    Replay safety: this writer never reads the scores store, so the
    shared folded-id guard runs here (the ``ann_ingest`` pattern); and a
    replay whose PRIOR carry was pruned is refused loudly — falling back
    to the zero calibration carry would silently reset the CUSUM state
    and corrupt every subsequent score."""
    guard_folded_replay(os.path.join(state_dir, "scores"), batch_id)
    calib = spark.read.parquet(os.path.join(state_dir, "calib"))
    carry_root = os.path.join(state_dir, "carry")
    prior = newest_snapshot(carry_root, below=batch_id)
    # batch 0 has NO numbered prior by construction — its true prior is the
    # zero calibration carry, so a batch-0 replay (carry/batch=0 written but
    # the checkpoint commit lost) must fall through to it, not be refused;
    # refusing would wedge the stream permanently on its very first retry.
    if batch_id > 0 and prior is None and snapshot_ids(carry_root):
        raise RuntimeError(
            f"{state_dir}: batch {batch_id} is replaying but its prior "
            "carry dir was pruned — compaction ran ahead of the "
            "checkpoint commit horizon (keep_last too small?)"
        )
    if prior:
        carry = spark.read.parquet(prior)
    else:
        carry = calib.select(
            "event_type",
            F.lit(0).cast("long").alias("c_prefix"),
            F.lit(0).cast("long").alias("c_minp"),
        )

    wrun = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        rows.join(F.broadcast(calib), "event_type")
        .select(
            "event_type",
            "hr",
            F.expr(
                f"((cnt - mean_q) * 1000) div greatest(sigma_q, 1)"
                f" - {int(k_milli)}"
            ).alias("d"),
        )
        .join(F.broadcast(carry), "event_type", "left")
        .withColumn("c_prefix", F.coalesce("c_prefix", F.lit(0).cast("long")))
        .withColumn("c_minp", F.coalesce("c_minp", F.lit(0).cast("long")))
        .withColumn("prefix", (F.col("c_prefix") + F.sum("d").over(wrun)).cast("long"))
        .withColumn(
            "minp",
            F.least(F.col("c_minp"), F.min("prefix").over(wrun)).cast("long"),
        )
        .withColumn(
            "cusum_milli",
            (F.col("prefix") - F.least(F.col("minp"), F.lit(0).cast("long")))
            .cast("long"),
        )
    )
    # persisted: scores write + carry aggregate both consume it (the
    # dedup_ingest signature_table pattern — one evaluation, two actions)
    scored = scored.persist()
    scored.select("event_type", "hr", "cusum_milli").write.mode(
        "overwrite"
    ).parquet(os.path.join(state_dir, "scores", f"batch={batch_id}"))

    last = scored.groupBy("event_type").agg(
        F.max_by("prefix", "hr").alias("b_prefix"),
        F.min("minp").alias("b_minp"),
    )
    new_carry = (
        carry.alias("c")
        .join(last.alias("b"), "event_type", "full")
        .select(
            "event_type",
            F.coalesce("b.b_prefix", "c.c_prefix").cast("long").alias("c_prefix"),
            F.least(
                F.coalesce("b.b_minp", F.lit(0).cast("long")),
                F.coalesce("c.c_minp", F.lit(0).cast("long")),
            ).cast("long").alias("c_minp"),
        )
    )
    try:
        write_snapshot(new_carry, carry_root, batch_id, keep=None)
    finally:
        scored.unpersist()


def cusum_scores(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Every (event_type, hr, cusum_milli) scored so far."""
    paths = read_fold_paths(os.path.join(state_dir, "scores"))
    if not paths:
        return None
    return spark.read.parquet(*paths)


def cusum_alarms(
    spark: SparkSession, state_dir: str, h_milli: int = CUSUM_ALARM_MILLI
) -> DataFrame | None:
    """Cells whose running score crossed the decision threshold H."""
    s = cusum_scores(spark, state_dir)
    return None if s is None else s.filter(F.col("cusum_milli") > int(h_milli))


def compact_cusum_ingest(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Retention hook: fold old score dirs into a committed baseline
    (verbatim — scores are final once written) and DELETE carry dirs
    older than the newest ``max(keep_last, 2)``.  The floor of 2 is
    load-bearing: a crash-replay of the newest batch B re-reads the carry
    at B-1, so the prune must never remove the newest batch's PRIOR carry
    (``ingest_cusum_batch`` refuses loudly if it ever finds that state).
    Deleting older carries is crash-safe — they are unreachable by any
    future read; worst case a crash mid-sweep leaves extra dirs for the
    next one."""
    fold_verbatim(spark, os.path.join(state_dir, "scores"), keep_last)
    prune_snapshots(os.path.join(state_dir, "carry"), max(keep_last, 2))


def start_cusum_ingest(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    k_milli: int = CUSUM_K_MILLI,
    trigger_seconds: int | None = None,
    compact_every: int | None = None,
    keep_last: int = 2,
):
    """Wire a finalized-hourly-rollup stream into the maintainer.

    ``compact_every``: fold/prune state every Nth batch
    (:func:`compact_cusum_ingest`) — bounded state on a long-lived stream."""
    return start_maintainer(
        source,
        lambda df, bid: ingest_cusum_batch(
            df.sparkSession, state_dir, df, bid, k_milli
        ),
        checkpoint_dir,
        trigger_seconds,
        compact=lambda s: compact_cusum_ingest(s, state_dir, keep_last),
        compact_every=compact_every,
    )
