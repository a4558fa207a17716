"""Incremental SCD Type-2 history maintenance from the CDC stream.

The batch query ``cdc_scd2`` derives validity intervals from a complete event
log in one pass; this module MAINTAINS the same history incrementally —
the temporal-table capability the reference's stack lacks entirely (StarRocks
PK tables keep only the live row, SURVEY.md §2.10 T4; the Kafka log retains
history but cannot be queried relationally).

State layout (under ``state_dir``):

- ``closed/batch=<id>/``  — versions closed by batch <id> (immutable once
  the batch commits; a replay overwrites the same directory).  Written
  before ``open/batch=<id>``, so readers count it only once that snapshot
  has committed (:func:`scd2_view`).
- ``open/batch=<id>/``    — full snapshot of the open (current) version per
  key AFTER batch <id>.  Copy-on-write: each batch reads the previous
  snapshot and writes its own, so replaying batch <id> re-reads snapshot
  <id-1> and regenerates identical output — idempotent under Structured
  Streaming's crash-replay, the same batch-id-keyed-write trick as
  ``rollup.merge_rollup_batch``.  A snapshot counts once committed
  (``_SUCCESS``); the newest 3 are kept (``_state.write_snapshot``).

Per batch: close the previously-open version of every touched key at the
batch's first event for that key, close intra-batch versions with lead(),
open the last non-delete event per key.  Deletes close history and open
nothing (a later insert re-opens — full resurrection support).

Scale: the open snapshot is one row per live key (== the live table's size);
closed partitions are append-shaped immutable version logs.  Each batch
shuffles only the batch + the open rows of touched keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..cdc.apply import latest_by_key, not_deleted, parse_envelope
from ..cdc.schemas import ORDER_EVENT_ENVELOPE, SEQ_COL
from ._state import (
    newest_snapshot,
    snapshot_ids,
    snapshot_path,
    start_maintainer,
    write_snapshot,
)


def merge_scd2_batch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    batch_id: int,
    envelope: StructType = ORDER_EVENT_ENVELOPE,
    key: str = "order_key",
) -> None:
    parsed = (
        parse_envelope(batch, envelope)
        .filter(F.col(key).isNotNull())
        .persist()
    )
    try:
        if parsed.isEmpty():
            return
        open_root = os.path.join(state_dir, "open")
        prior = newest_snapshot(open_root, below=batch_id)
        prev_open = spark.read.parquet(prior) if prior else None

        w = Window.partitionBy(key).orderBy(SEQ_COL)
        b = parsed.withColumn("valid_from_seq", F.col(SEQ_COL)).withColumn(
            "valid_to_seq", F.lead(SEQ_COL).over(w)
        )
        live = not_deleted()
        intra_closed = b.filter(F.col("valid_to_seq").isNotNull() & live)

        firsts = parsed.groupBy(key).agg(F.min(SEQ_COL).alias("_first"))
        closed = intra_closed
        open_rows = None
        if prev_open is not None:
            closing = (
                prev_open.drop("valid_to_seq")
                .join(firsts, key)
                .withColumn("valid_to_seq", F.col("_first"))
                .drop("_first")
            )
            closed = closed.unionByName(closing)
            open_rows = prev_open.join(firsts.select(key), key, "left_anti")

        last_ev = latest_by_key(parsed, key)
        new_open = (
            last_ev.filter(live)
            .withColumn("valid_from_seq", F.col(SEQ_COL))
            .withColumn("valid_to_seq", F.lit(None).cast("long"))
        )
        open_rows = (
            new_open
            if open_rows is None
            else open_rows.unionByName(new_open)
        )

        # materialize BEFORE writes: open_rows reads the previous snapshot
        # files, and pruning below may delete them
        open_rows = open_rows.localCheckpoint(eager=True)
        closed = closed.localCheckpoint(eager=True)

        closed.write.mode("overwrite").parquet(
            os.path.join(state_dir, "closed", f"batch={batch_id}")
        )
        write_snapshot(open_rows, open_root, batch_id)
    finally:
        parsed.unpersist()


def scd2_view(
    spark: SparkSession, state_dir: str, key: str = "order_key"
) -> DataFrame | None:
    """Full temporal history as of the newest committed open snapshot: the
    versions closed by batches up to it plus the snapshot, with read-time
    version numbers and the current-row flag.  A batch writes ``closed/``
    before ``open/``, so a closed dir past the snapshot (mid-batch, or a
    crash between the writes) is skipped until a replay commits both."""
    open_root = os.path.join(state_dir, "open")
    open_ids = snapshot_ids(open_root)
    if not open_ids:
        return None
    hist = spark.read.parquet(snapshot_path(open_root, open_ids[-1]))
    closed_root = os.path.join(state_dir, "closed")
    closed = [
        snapshot_path(closed_root, i)
        for i in snapshot_ids(closed_root)
        if i <= open_ids[-1]
    ]
    if closed:
        hist = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(*closed)
            .unionByName(hist)
        )
    w = Window.partitionBy(key).orderBy("valid_from_seq")
    return hist.withColumn("version", F.row_number().over(w)).withColumn(
        "is_current", F.col("valid_to_seq").isNull()
    )


def start_scd2_load(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    envelope: StructType = ORDER_EVENT_ENVELOPE,
    key: str = "order_key",
    trigger_seconds: int | None = None,
):
    """Wire a CDC wire-format stream into the SCD2 maintainer."""
    return start_maintainer(
        source,
        lambda df, bid: merge_scd2_batch(
            df.sparkSession, state_dir, df, bid, envelope=envelope, key=key
        ),
        checkpoint_dir,
        trigger_seconds,
    )


def scd2_asof(history: DataFrame, seq: int) -> DataFrame:
    """Table state AS OF a log position, from the maintained history: the
    version whose validity interval contains ``seq``.  Interval containment
    is a partition-pruned filter over the history — no replay needed (the
    log-replay alternative is ``operators.cdc_queries.cdc_asof_snapshot``)."""
    return history.filter(
        (F.col("valid_from_seq") <= seq)
        & (F.col("valid_to_seq").isNull() | (F.col("valid_to_seq") > seq))
    )
