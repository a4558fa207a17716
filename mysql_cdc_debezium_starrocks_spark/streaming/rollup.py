"""Incremental continuous-aggregate maintenance (streaming materialized rollup).

The batch query ``events_rollup_cascade`` proves minute->hour->day partials
re-aggregate losslessly; this module MAINTAINS the minute-level partial table
incrementally from a stream — the hypertable continuous-aggregate /
incremental-view-maintenance pattern the reference's Routine Load plays for
raw rows (create-routine-load.sh:15-48), applied to an aggregate instead.

Per micro-batch (``foreachBatch``): fold the batch to minute partials
(n, sum, min, max per (minute, type)) — map-side partial aggregation, so the
shuffle carries one row per (minute, type) per task, never the events — and
write them to the batch's OWN directory ``contrib/batch=<id>``.  No shared
file is ever rewritten on the hot path, which gives three properties at once:

- **replay idempotency**: Structured Streaming re-running a batch after a
  crash overwrites only that batch's directory (additive partials are not
  naturally idempotent; the per-batch write key makes them so — the same
  idempotency-by-write-key trick Delta's txn-id dedup uses);
- **crash safety**: a crash mid-write can corrupt at most the in-flight
  batch's directory, never other batches' contributions (round-1 advice:
  the previous design dynamically overwrote shared day partitions it had
  just read, so a mid-commit crash could lose OTHER batches' rows for the
  touched days);
- **O(batch) merge cost**: no state read-back per batch at all.

Readers re-aggregate across contributions (``minute_view``/``daily_view``) —
legal because every kept stat is re-aggregatable (sum-of-sums, min-of-mins,
max-of-maxes, count-as-sum); averages are derived at read time.

**Compaction.** ``compact_rollup`` folds all but the newest ``keep_last``
contribution dirs into a committed baseline through
``_state.fold_verbatim``, which owns the baseline layout and its
crash-safety argument (a crash at any point of a fold never double-counts
or loses rows).

Scale: state size is the (minute x type x live-batch) cardinality —
time-bounded, not data-bounded.  Late data merges correctly regardless of
compaction state (its minute keys simply re-aggregate at read time); an
optional watermark on the source stream bounds how late that can happen.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._state import fold_verbatim, read_fold_paths, start_maintainer

_DAY = "day"
_KEYS = (_DAY, "minute", "event_type")
_CONTRIB = "contrib"


def _minute_partials(events: DataFrame) -> DataFrame:
    v = F.col("value").cast("decimal(18,2)")
    return events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias(_DAY),
        F.date_trunc("minute", "ts").alias("minute"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )


def _combine(parts: DataFrame) -> DataFrame:
    return parts.groupBy(*_KEYS).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )


def read_rollup(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Current state: committed baseline (batch_id = -1) plus every live
    contribution dir the baseline has not folded."""
    paths = read_fold_paths(os.path.join(state_dir, _CONTRIB))
    if not paths:
        return None
    return spark.read.parquet(*paths)


def merge_rollup_batch(
    spark: SparkSession, state_dir: str, batch: DataFrame, batch_id: int = 0
) -> None:
    """Write one micro-batch's minute partials to its own contribution dir.

    Idempotent per ``batch_id`` (replay overwrites the same dir); touches no
    shared state, so cost is O(batch partials) and crash-safe by layout.
    """
    partials = _minute_partials(batch).withColumn("batch_id", F.lit(int(batch_id)))
    partials.repartition(F.col(_DAY)).write.mode("overwrite").parquet(
        os.path.join(state_dir, _CONTRIB, f"batch={batch_id}")
    )


def compact_rollup(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Fold all but the newest ``keep_last`` contribution dirs (plus the old
    baseline) into a new committed baseline of re-combined partials."""

    def recombine(parts: DataFrame) -> DataFrame:
        return (
            _combine(parts)
            # pin the PERSISTED schema to the contribution schema: Spark
            # widens sum(decimal(28,2)) to (38,2), and mixed file widths make
            # the multi-path read depend on which file schema inference sees
            # first
            .withColumn("s", F.col("s").cast("decimal(28,2)"))
            .withColumn("batch_id", F.lit(-1))
            .repartition(F.col(_DAY))
        )

    fold_verbatim(spark, os.path.join(state_dir, _CONTRIB), keep_last, agg=recombine)


def start_incremental_rollup(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    compact_every: int | None = None,
    keep_last: int = 2,
):
    """Wire a raw-event stream into the rollup maintainer; returns the
    running StreamingQuery (caller owns lifecycle, as with the CDC loads).

    ``compact_every`` = retention hook: every Nth batch folds old
    contribution dirs into the committed baseline (:func:`compact_rollup`)
    so live dirs stay bounded at ~keep_last+1 over an unbounded run."""
    return start_maintainer(
        source,
        lambda df, bid: merge_rollup_batch(df.sparkSession, state_dir, df, bid),
        checkpoint_dir,
        trigger_seconds,
        compact=lambda s: compact_rollup(s, state_dir, keep_last),
        compact_every=compact_every,
    )


def minute_view(partials: DataFrame) -> DataFrame:
    """Collapsed minute-level stats (batch contributions re-aggregated)."""
    return _combine(partials)


def daily_view(partials: DataFrame) -> DataFrame:
    """Reader-side cascade: day-level stats re-aggregated from the maintained
    minute partials (same derivation as ``events_rollup_cascade``)."""
    day = partials.groupBy(_DAY, "event_type").agg(
        F.sum("n").alias("n_events"),
        F.sum("s").alias("sum_value"),
        F.min("mn").alias("min_value"),
        F.max("mx").alias("max_value"),
    )
    avg = F.round(F.col("sum_value").cast("double") / F.col("n_events"), 4).cast(
        "decimal(18,4)"
    )
    return day.select(
        F.col(_DAY).alias("day"),
        "event_type",
        "n_events",
        "sum_value",
        "min_value",
        "max_value",
        avg.alias("avg_value"),
    )
