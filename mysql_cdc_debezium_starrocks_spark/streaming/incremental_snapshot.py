"""Incremental (non-blocking, chunked) initial snapshot.

The reference connector runs ``snapshot.mode=initial``
(debezium-connector.json:21): Debezium reads the whole table before
streaming, which blocks first results on the full scan.  Debezium's
incremental-snapshot mode (the public watermark-based chunking design,
implemented by DBZ-3342) removes that: the table is read in PK-ordered
chunks interleaved with live change events, and per-chunk low/high
watermarks injected into the stream decide whether a chunk row or a
concurrent change event wins.

Spark-first reformulation — simpler, and provably equivalent under this
engine's LWW merge:

1. **Stage once, consistently.**  ``plan_incremental_snapshot`` takes one
   pass over the source (a JDBC read or any batch DataFrame), assigns every
   row a chunk id, and writes a staged copy partitioned by chunk — ONE
   shuffle, after which each chunk is a partition-pruned file read (no
   re-scan of the source per chunk, which a naive per-chunk ``WHERE pk
   BETWEEN`` loop would cost at 100 TB).  Numeric keys get PK-*range*
   chunks (Debezium-faithful, via one-pass approximate quantiles whose
   driver state is ``n_chunks`` doubles); other key types fall back to hash
   chunks — chunk identity only paces the work, it never affects the final
   state.
2. **One global watermark instead of per-chunk windows.**  Every staged row
   carries ``_seq = snapshot_seq``, the stream sequence captured BEFORE the
   staging source read begins (ordering is load-bearing: captured after the
   read, a change landing mid-read could share the watermark sequence and
   tie in the LWW reduction — max_by ties are nondeterministic, so a
   deleted key could resurrect).  Captured before, any concurrent event has
   a strictly higher sequence and the engine's keyed last-write-wins
   reduction (cdc/apply.py:56) makes stream events beat snapshot rows
   automatically — including the resurrection hazard (a key deleted by the
   stream while its chunk is still queued stays deleted, because the delete
   strictly outranks the stale staged row); a tie at exactly
   ``snapshot_seq`` can then only involve an event the staged read already
   reflects, where either winner carries the same state.
   Debezium needs per-chunk windows because it re-reads each chunk live
   while the binlog advances; a staged consistent copy collapses all those
   windows into one watermark with the same outcome.
3. **Merge chunk-by-chunk through the ordinary materializer.**
   ``run_incremental_snapshot`` feeds each chunk through
   ``merge_batch`` — bounded per-step work (one chunk + touched state
   buckets), idempotent on replay (the LWW reduction key is (pk, max seq)),
   and freely interleavable with a live streaming load on the same state.

Scale: staging is one shuffle of the source; each step reads one chunk
partition plus the state buckets it touches.  Peak memory is chunk-sized,
never table-sized; a 1000-executor cluster runs chunks of a 100 TB table
without ever holding more than ``rows/n_chunks`` per step.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.apply import to_envelope_wire
from .materializer import CdcLoadConfig, merge_batch

_CHUNK_COL = "_chunk"


@dataclass(frozen=True)
class SnapshotPlan:
    """A staged, chunk-partitioned consistent copy of the source table."""

    staging_dir: str
    key: str
    n_chunks: int
    snapshot_seq: int  # stream max _seq captured BEFORE the staging read
    range_chunked: bool  # PK-range chunks (numeric key) vs hash chunks


def _is_numeric(df: DataFrame, key: str) -> bool:
    return isinstance(df.schema[key].dataType, T.NumericType)


def plan_incremental_snapshot(
    spark: SparkSession,
    source: DataFrame,
    key: str,
    snapshot_seq: int,
    staging_dir: str,
    n_chunks: int = 16,
) -> SnapshotPlan:
    """Stage ``source`` partitioned into ``n_chunks`` chunks (see module doc).

    ``snapshot_seq`` must be captured BEFORE the ``source`` read begins:
    the live load's max ``_seq`` (or committed Kafka offset) at that
    moment.  Every event captured afterwards — including changes landing
    while the snapshot query runs — then has a STRICTLY higher sequence
    and outranks the staged rows in the LWW merge.  Capturing it after the
    read would let a mid-read change share the watermark and tie
    (nondeterministic max_by — a deleted key could resurrect).
    """
    range_chunked = _is_numeric(source, key) and n_chunks > 1
    if range_chunked:
        # one-pass approximate quantile boundaries; relative error 1/(4n)
        # keeps chunks within ~25% of even without a global sort
        probs = [i / n_chunks for i in range(1, n_chunks)]
        bounds = source.stat.approxQuantile(key, probs, 1.0 / (4 * n_chunks))
        chunk = F.lit(0)
        for b in bounds:
            chunk = chunk + F.when(F.col(key) > F.lit(b), 1).otherwise(0)
    else:
        chunk = F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_chunks))
    (
        source.withColumn(_CHUNK_COL, chunk.cast("int"))
        .repartition(F.col(_CHUNK_COL))
        .write.mode("overwrite")
        .partitionBy(_CHUNK_COL)
        .parquet(staging_dir)
    )
    return SnapshotPlan(
        staging_dir=staging_dir,
        key=key,
        n_chunks=n_chunks,
        snapshot_seq=int(snapshot_seq),
        range_chunked=range_chunked,
    )


def read_chunk(spark: SparkSession, plan: SnapshotPlan, i: int) -> DataFrame:
    """Partition-pruned read of one staged chunk (no ``_chunk`` column)."""
    path = os.path.join(plan.staging_dir, f"{_CHUNK_COL}={i}")
    return spark.read.parquet(path)


def chunk_to_wire(plan: SnapshotPlan, chunk_rows: DataFrame) -> DataFrame:
    """Staged chunk rows -> ingest wire batch (``_seq`` LONG, value STRING).

    Snapshot reads are Debezium op "r" rows: never deletes, sequence pinned
    at the staging watermark so live events outrank them.  Typed columns are
    serialized per the wire conventions (cdc/schemas.py): decimals as
    strings (reference README.md:324), timestamps as formatted NTZ strings.
    """
    from ..cdc.schemas import SEQ_COL, TS_WIRE_FORMAT

    cols = []
    for f in chunk_rows.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.DecimalType):
            c = c.cast("string")
        elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            c = F.date_format(c, TS_WIRE_FORMAT)
        cols.append(c.alias(f.name))
    wired = chunk_rows.select(*cols).withColumn(
        SEQ_COL, F.lit(plan.snapshot_seq).cast("long")
    )
    return to_envelope_wire(wired)


def run_incremental_snapshot(
    spark: SparkSession,
    cfg: CdcLoadConfig,
    plan: SnapshotPlan,
    chunks: list[int] | None = None,
    on_chunk=None,
) -> int:
    """Merge staged chunks into ``cfg``'s state, one bounded step at a time.

    ``on_chunk(i)`` (optional) runs after each chunk merges — the test/ops
    hook for interleaving live work (the whole point of the incremental
    snapshot); production deployments simply run this loop concurrently with
    the live streaming load, which is safe because ``merge_batch`` is a
    keyed LWW reduction and snapshot rows carry the staging watermark.
    Re-running any subset of chunks is idempotent.  Returns chunks merged.
    """
    done = 0
    for i in chunks if chunks is not None else range(plan.n_chunks):
        path = os.path.join(plan.staging_dir, f"{_CHUNK_COL}={i}")
        if not os.path.isdir(path):  # empty chunk (quantile ties): skip
            continue
        merge_batch(spark, cfg, chunk_to_wire(plan, spark.read.parquet(path)))
        done += 1
        if on_chunk is not None:
            on_chunk(i)
    return done
