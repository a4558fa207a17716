"""Incremental continuous-aggregate maintenance (streaming materialized rollup).

The batch query ``events_rollup_cascade`` proves minute->hour->day partials
re-aggregate losslessly; this module MAINTAINS the minute-level partial table
incrementally from a stream — the hypertable continuous-aggregate /
incremental-view-maintenance pattern the reference's Routine Load plays for
raw rows (create-routine-load.sh:15-48), applied to an aggregate instead.

The rollup is one :mod:`agg_mv` view: keys ``(day, minute, event_type)``
projected from ``ts``, and n/sum/min/max of ``value::decimal(18,2)`` per
key.  agg_mv writes each micro-batch's map-side partials to the batch's
own dir (replay overwrites only that dir, a crash mid-write touches no
other batch, no state is read back per batch), re-merges them at read time
and folds old dirs into a committed baseline (``compact_rollup``).  All
four stats are exact decimal/integer merges, so the view is bit-identical
across compaction; averages are derived at read time (``daily_view``).

Scale: state size is the (minute x type x live-batch) cardinality —
time-bounded, not data-bounded.  Late data merges correctly regardless of
compaction state (its minute keys simply re-aggregate at read time); an
optional watermark on the source stream bounds how late that can happen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .agg_mv import compact_agg_mv, merge_agg_mv_batch, read_agg_mv, start_agg_mv_load

_DAY = "day"
_KEYS = [_DAY, "minute", "event_type"]
_SPEC = {
    "n": ("count", None),
    "s": ("sum", "v"),
    "mn": ("min", "v"),
    "mx": ("max", "v"),
}


def _minute_keys(events: DataFrame) -> DataFrame:
    return events.select(
        F.date_trunc("day", "ts").cast("date").alias(_DAY),
        F.date_trunc("minute", "ts").alias("minute"),
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )


def read_rollup(spark: SparkSession, state_dir: str) -> DataFrame:
    """The merged minute rows (day, minute, event_type, n, s, mn, mx)."""
    return read_agg_mv(spark, state_dir, _KEYS, _SPEC)


def merge_rollup_batch(
    spark: SparkSession, state_dir: str, batch: DataFrame, batch_id: int = 0
) -> None:
    """Write one micro-batch's minute partials to its own contribution dir
    (idempotent per ``batch_id``: replay overwrites the same dir)."""
    merge_agg_mv_batch(spark, state_dir, _minute_keys(batch), _KEYS, _SPEC, batch_id)


def compact_rollup(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Fold all but the newest ``keep_last`` contribution dirs (plus the old
    baseline) into a new committed baseline of re-combined partials."""
    compact_agg_mv(spark, state_dir, _KEYS, _SPEC, keep_last)


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
    return start_agg_mv_load(
        spark,
        source.transform(_minute_keys),
        state_dir,
        checkpoint_dir,
        _KEYS,
        _SPEC,
        trigger_seconds,
        compact_every,
        keep_last,
    )


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
