"""Incrementally-maintained table statistics (the ANALYZE TABLE analog):
row counts, per-column null counts, and mergeable Datasketches-HLL NDV
sketches, folded per micro-batch and unioned at read time.

Why sketches and not recounts: NDV is not additive — you cannot sum
per-batch distinct counts — but HLL sketches UNION losslessly, so each
batch contributes a fixed-size binary blob and the merged estimate stays
within HLL error regardless of how many batches ever ran.  This is the
state that makes cost-based decisions (broadcast vs shuffle join,
bucketing keys, skew suspicion) possible without rescanning 100 TB.

The stats are one :mod:`agg_mv` view keyed by column name: each batch row
is projected to one ``(col, is_null, v)`` row per tracked column, and the
spec is ``rows`` count, ``nulls`` sum of ``is_null``, ``ndv_est`` ndv of
``v``.  One aggregation per batch writes a few KB (batch-keyed overwrite —
crash-replay regenerates identical files); reading merges O(batches x
cols) tiny rows.

``recommend_broadcast`` turns the stats into the advisor-facing decision:
estimated table bytes vs the broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .agg_mv import merge_agg_mv_batch, read_agg_mv

_KEYS = ["col"]
_SPEC = {
    "rows": ("count", None),
    "nulls": ("sum", "is_null"),
    "ndv_est": ("ndv", "v"),
}


def _column_rows(batch: DataFrame, cols: list[str]) -> DataFrame:
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(c).isNull().cast("long").alias("is_null"),
                F.col(c).cast("string").alias("v"),
            )
            for c in cols
        ]
    )
    return batch.select(F.inline(per_col))


def update_stats_batch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    cols: list[str],
    batch_id: int,
) -> None:
    """Fold one micro-batch into per-column stats partials (one agg job)."""
    merge_agg_mv_batch(spark, state_dir, _column_rows(batch, cols), _KEYS, _SPEC, batch_id)


def read_stats(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged statistics: (col, rows, nulls, ndv_est) across all batches."""
    return read_agg_mv(spark, state_dir, _KEYS, _SPEC).orderBy("col")


def recommend_broadcast(
    spark: SparkSession,
    state_dir: str,
    avg_row_bytes: int = 100,
    threshold_bytes: int = 10 * 1024 * 1024,
) -> dict:
    """Cost-based join-side advice from the maintained stats."""
    stats = read_stats(spark, state_dir)
    rows = stats.agg(F.max("rows")).collect()[0][0] or 0
    est_bytes = int(rows) * avg_row_bytes
    return {
        "rows": int(rows),
        "estimated_bytes": est_bytes,
        "broadcast": est_bytes <= threshold_bytes,
        "threshold_bytes": threshold_bytes,
    }
