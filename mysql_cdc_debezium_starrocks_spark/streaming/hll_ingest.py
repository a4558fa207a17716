"""Distinct-count-at-ingest: an incrementally maintained portable-HLL
sketch over a keyed stream.

The batch operator (``operators.sketches.sketch_hll_portable``) sketches a
finished table; a pipeline ingesting continuously wants the running
"distinct keys seen so far" without ever re-scanning history — the
dashboard number behind dedup-rate and user-count panels.  HLL registers
are the textbook incremental answer BECAUSE they merge by MAX: the sketch
is one :mod:`agg_mv` view keyed by register ``idx`` with ``mr = max(rho)``
over the per-row ranks (``sketches.hll_ranks``).  Each micro-batch
contributes only the registers of its OWN rows (a pure function of the
batch, so crash-replay rewrites an identical contribution), and folding
old contributions into agg_mv's baseline is lossless.  No per-key state
exists anywhere: state is <= m rows per contribution.

Scale: per batch one partial-agg'd groupBy over the batch's rows emitting
<= m = 1024 rows; reads fold O(keep_last) dirs of <= m rows.  At 1000
executors the same registers partial-aggregate map-side — the shuffle
carries register rows, never keys.

Reference analog: the reference monitors row counts via SHOW ROUTINE LOAD
loaded-row counters (monitor.sh:10-25); this maintainer is the
distinct-count counterpart the reference cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import hll_estimate, hll_ranks
from .agg_mv import compact_agg_mv, merge_agg_mv_batch, read_agg_mv, start_agg_mv_load

_KEYS = ["idx"]
_SPEC = {"mr": ("max", "rho")}


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
    registers derive purely from ``rows``."""
    merge_agg_mv_batch(
        rows.sparkSession, state_dir, hll_ranks(rows, F.col(key), seed),
        _KEYS, _SPEC, batch_id,
    )


def running_registers(spark: SparkSession, state_dir: str) -> DataFrame:
    """The merged (idx, mr) register table over every contribution so far."""
    return read_agg_mv(spark, state_dir, _KEYS, _SPEC)


def running_estimate(spark: SparkSession, state_dir: str) -> DataFrame:
    """1-row (m, n_zero_regs, est_raw, est_hll) distinct estimate of every
    key ever ingested — identical to the batch estimator over the union of
    all batches (mergeability, pytest-pinned)."""
    return hll_estimate(running_registers(spark, state_dir))


def compact_hll_ingest(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Retention hook: fold old register contributions into agg_mv's
    committed baseline by the lossless MAX-merge, so a long-lived stream
    keeps O(keep_last) dirs."""
    compact_agg_mv(spark, state_dir, _KEYS, _SPEC, keep_last)


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
    return start_agg_mv_load(
        spark,
        hll_ranks(source, F.col(key), seed),
        state_dir,
        checkpoint_dir,
        _KEYS,
        _SPEC,
        trigger_seconds,
        compact_every,
        keep_last,
    )
