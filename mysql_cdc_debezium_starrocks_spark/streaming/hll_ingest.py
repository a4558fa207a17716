"""Distinct-count-at-ingest: an incrementally maintained portable-HLL
sketch over a keyed stream.

The batch operator (``operators.sketches.sketch_hll_portable``) sketches a
finished table; a pipeline ingesting continuously wants the running
"distinct keys seen so far" without ever re-scanning history — the
dashboard number behind dedup-rate and user-count panels.  HLL registers
are the textbook incremental answer BECAUSE they merge by MAX: each
micro-batch contributes only the registers of its OWN rows
(``hll_registers`` — a pure function of the batch, so crash-replay rewrites
an identical contribution), and the running sketch is
``groupBy(idx).max(mr)`` over all contributions.  No per-key state exists
anywhere: state is <= m rows per batch dir, bounded by the retention hook.

Layout (the rollup/mix_ingest scheme): ``regs/batch=<id>`` contribution
dirs, batch-keyed overwrites for idempotent replay, ``compact_hll_ingest``
folding old dirs into a committed baseline — register MAX-merge is
lossless, so folding is a pure representation change (asserted in
tests/test_ingest_compaction.py style by the soak).

Scale: per batch one partial-agg'd groupBy over the batch's rows emitting
<= m = 1024 rows; reads fold O(keep_last) dirs of <= m rows.  At 1000
executors the same registers partial-aggregate map-side — the shuffle
carries register rows, never keys.

Reference analog: the reference monitors row counts via SHOW ROUTINE LOAD
loaded-row counters (monitor.sh:10-25); this maintainer is the
distinct-count counterpart the reference cannot express.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import hll_estimate, hll_registers
from ._state import fold_verbatim, read_fold_paths, start_maintainer


def ingest_hll_batch(
    state_dir: str,
    rows: DataFrame,
    batch_id: int,
    key: str = "key",
    seed: str = "hll",
) -> None:
    """Write batch ``batch_id``'s register contribution (idempotent:
    batch-keyed overwrite of a pure function of the batch's rows).

    Unlike the other ingest maintainers this takes no SparkSession:
    registers derive purely from ``rows`` (ADVICE r05)."""
    regs = hll_registers(rows, F.col(key), seed)
    regs.write.mode("overwrite").parquet(
        os.path.join(state_dir, "regs", f"batch={batch_id}")
    )


def running_registers(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The merged register table over every contribution so far."""
    paths = read_fold_paths(os.path.join(state_dir, "regs"))
    if not paths:
        return None
    return (
        spark.read.parquet(*paths)
        .groupBy("idx")
        .agg(F.max("mr").alias("mr"))
    )


def running_estimate(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """1-row (m, n_zero_regs, est_raw, est_hll) distinct estimate of every
    key ever ingested — identical to the batch estimator over the union of
    all batches (mergeability, pytest-pinned)."""
    regs = running_registers(spark, state_dir)
    return None if regs is None else hll_estimate(regs)


def compact_hll_ingest(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Retention hook (the ``compact_agg_mv`` scheme): fold old register
    contributions into a committed baseline by the lossless MAX-merge, so
    a long-lived stream keeps O(keep_last) dirs.  Crash-mid-fold is
    invisible (committed-marker-last)."""
    fold_verbatim(
        spark,
        os.path.join(state_dir, "regs"),
        keep_last,
        agg=lambda df: df.groupBy("idx").agg(F.max("mr").alias("mr")),
    )


def start_hll_ingest(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key: str = "key",
    seed: str = "hll",
    trigger_seconds: int | None = None,
    compact_every: int | None = None,
    keep_last: int = 2,
):
    """Wire a keyed stream into the sketch maintainer."""
    return start_maintainer(
        source,
        lambda df, bid: ingest_hll_batch(state_dir, df, bid, key, seed),
        checkpoint_dir,
        trigger_seconds,
        compact=lambda s: compact_hll_ingest(s, state_dir, keep_last),
        compact_every=compact_every,
    )
