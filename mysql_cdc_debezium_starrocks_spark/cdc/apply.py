"""Envelope parsing + keyed last-write-wins apply (the engine's heart).

Replaces the StarRocks Primary-Key-table apply (reference:
create-starrocks-tables.sh:17-44 — ``PRIMARY KEY`` + ``DISTRIBUTED BY
HASH(pk)``; docs/ARCHITECTURE.md:120-129) and the Routine Load JSON decode
(reference: create-routine-load.sh:15-30).

Design (Spark-first, 100 TB-aware):

- parse with one ``from_json`` against a schema that models BOTH envelope
  shapes, then coalesce ``payload.x`` with top-level ``x`` — a narrow
  projection, no shuffle, fully codegen'd.
- last-write-wins via ``groupBy(key).agg(max_by(struct(cols), seq))`` rather
  than a ranking window: ``max_by`` gets a map-side partial aggregate
  (ObjectHashAggregate), so the shuffle moves ~one row per key per input
  partition instead of the whole event log; a row_number window would shuffle
  every event.  On a cluster the single shuffle hashes on the PK, mirroring
  the reference's ``DISTRIBUTED BY HASH(pk) BUCKETS 4``.
- deletes are applied correctly: the latest event wins, and if it carries
  ``__deleted='true'`` the key disappears from the live view.  (The committed
  reference config silently drops deletes — create-routine-load.sh:16,21 never
  maps ``__deleted`` — SURVEY.md §2.10 T5; we implement the documented intent.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .schemas import (
    DELETED_COL,
    ORDER_EVENT_ENVELOPE,
    SEQ_COL,
    TS_WIRE_FORMAT,
    VALUE_COL,
)


def parse_envelope(
    events: DataFrame, envelope: StructType = ORDER_EVENT_ENVELOPE
) -> DataFrame:
    """JSON wire rows -> typed payload columns.

    Tolerates null tombstones (filtered, reference: debezium-connector.json:23)
    and both envelope shapes (coalesce of payload.* with top-level fields).
    """
    payload_names = [f.name for f in envelope["payload"].dataType.fields]
    parsed = (
        events.filter(F.col(VALUE_COL).isNotNull())
        .select(SEQ_COL, F.from_json(F.col(VALUE_COL), envelope).alias("e"))
    )
    cols: list[Column] = [F.col(SEQ_COL)]
    for n in payload_names:
        cols.append(F.coalesce(F.col(f"e.payload.{n}"), F.col(f"e.{n}")).alias(n))
    return parsed.select(*cols)


def encode_envelope(payload: Column, wrap: Column | None = None) -> Column:
    """Inverse of the parse's unwrap: a payload struct -> wire JSON text.

    Wrapped as ``{"payload": {...}}`` where ``wrap`` holds, bare elsewhere;
    with no ``wrap``, always wrapped.  Mixed producers send both shapes
    (SURVEY.md §2.1 S7), so each generator picks its own per-row rule.
    """
    wrapped, bare = (
        F.to_json(c) for c in (F.struct(payload.alias("payload")), payload)
    )
    return wrapped if wrap is None else F.when(wrap, wrapped).otherwise(bare)


def latest_by_key(df: DataFrame, key: str) -> DataFrame:
    """Last-write-wins reduction: one row per key, the highest-seq event.

    ``max(struct(seq, all cols))`` keeps the reduction partially
    aggregatable (map-side combine) — the scalable formulation of
    ``row_number() over (partition by key order by seq desc) = 1``.
    Ordering the struct by seq FIRST and the remaining columns after makes
    ties deterministic: two events sharing a sequence (an offset re-emitted
    across recovery) resolve to the lexicographically greatest payload on
    every run, instead of max_by's arbitrary pick.
    """
    value_cols = [c for c in df.columns if c != key]
    ordered = [SEQ_COL] + [c for c in value_cols if c != SEQ_COL]
    packed = F.max(F.struct(*[F.col(c) for c in ordered])).alias("_latest")
    out = df.groupBy(key).agg(packed)
    return out.select(key, *[F.col(f"_latest.{c}").alias(c) for c in value_cols])


def not_deleted() -> Column:
    """The live-row predicate: true unless ``__deleted`` is ``'true'``.

    A NULL marker is live (inserts from producers that never set it).
    Every reader of tombstone-retaining state filters with this.
    """
    return F.col(DELETED_COL).isNull() | (F.col(DELETED_COL) != F.lit("true"))


def apply_cdc_log(events: DataFrame, key: str) -> DataFrame:
    """Materialize the live table from a structured CDC event log.

    The live view excludes keys whose latest event is a delete
    (``__deleted='true'`` from delete.handling.mode=rewrite,
    reference: debezium-connector.json:24).  Rows whose key parsed NULL
    (malformed/truncated wire JSON: from_json yields all-null fields) are
    dropped — they are unmergeable, and without this filter every corrupt
    message would collapse into one spurious NULL-key live row.  The
    streaming path additionally quarantines them (materializer dead-letter).
    """
    latest = latest_by_key(events.filter(F.col(key).isNotNull()), key)
    return latest.filter(not_deleted()).drop(SEQ_COL, DELETED_COL)


def materialize_orders(events_json: DataFrame) -> DataFrame:
    """Full pipeline on the synthetic order-event wire log.

    Output columns (typed): order_key, cust_key, status,
    total_price decimal(10,2), order_ts timestamp, priority.
    """
    parsed = parse_envelope(events_json)
    live = apply_cdc_log(parsed, key="order_key")
    return live.select(
        "order_key",
        "cust_key",
        "status",
        F.col("total_price").cast("decimal(10,2)").alias("total_price"),
        F.to_timestamp_ntz(F.col("order_ts"), F.lit(TS_WIRE_FORMAT)).alias("order_ts"),
        "priority",
    )


def to_envelope_wire(df: DataFrame) -> DataFrame:
    """Inverse of :func:`parse_envelope`: serialize typed rows back into the
    Debezium-shaped wire format (envelope shape 1, ``{"payload": {...}}``)
    — the outbound CDC sink that lets THIS engine feed another pipeline
    instance (or any Debezium-compatible consumer) over Kafka/files.

    Columns other than ``_seq`` become payload fields; a missing
    ``__deleted`` is emitted as "false" (pure inserts).  Decimal columns
    should already be strings per the wire convention (README.md:324
    decimal-as-string).  Output schema matches the ingest side exactly:
    (``_seq`` LONG, ``value`` STRING) — so emit -> parse is lossless, which
    tests/test_cdc.py asserts round-trip.
    """
    data_cols = [c for c in df.columns if c != SEQ_COL]
    if DELETED_COL not in data_cols:
        df = df.withColumn(DELETED_COL, F.lit("false"))
        data_cols.append(DELETED_COL)
    payload = F.struct(*[F.col(c) for c in data_cols])
    return df.select(F.col(SEQ_COL), encode_envelope(payload).alias(VALUE_COL))
