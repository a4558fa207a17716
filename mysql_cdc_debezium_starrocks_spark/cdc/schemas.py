"""The CDC wire contract: column names, ingest schema and envelope schemas.

The reference's wire format is Debezium JSON after ``ExtractNewRecordState``
(reference: debezium-connector.json:21-24, docs/ARCHITECTURE.md:91-103) and is
inconsistent about the envelope shape (SURVEY.md §2.1 S7): the committed
Routine Load expects bare payloads (reference: create-routine-load.sh:21)
while benchmark.sh:164 and docs/MANUAL_SETUP.md:284 expect ``{schema,payload}``
wrappers.  We accept BOTH by declaring a schema carrying the payload fields at
top level *and* under ``payload`` and coalescing per field.

Like the reference, where the connector config and Routine Load's fixed
jsonpaths pin the wire shape (create-routine-load.sh:16,21), the column
names are constants, not options: every event row is (``_seq`` LONG,
``value`` STRING) and every payload carries ``__deleted``.

Conventions preserved from the reference:
- decimals travel as strings (``decimal.handling.mode=string`` workaround for
  the base64-decimal pitfall, reference: README.md:324);
- ``__deleted`` is the string "true"/"false"
  (``delete.handling.mode=rewrite``, reference: debezium-connector.json:24);
- null-value tombstone messages are present and must be tolerated
  (``drop.tombstones=false``, reference: debezium-connector.json:23);
- timestamps travel as ``TS_WIRE_FORMAT`` strings, read back as
  ``timestamp_ntz`` (deployment-timezone-independent).
"""

from __future__ import annotations

from pyspark.sql.types import LongType, StringType, StructField, StructType

SEQ_COL = "_seq"          # LWW sequence: Kafka offset / file-log position
VALUE_COL = "value"       # the JSON event text; NULL for a tombstone message
DELETED_COL = "__deleted"  # "true" on a delete (delete.handling.mode=rewrite)

# every ingest path (file source, audit replay) reads the event log with it
INGEST_SCHEMA = "`_seq` LONG, value STRING"

TS_WIRE_FORMAT = "yyyy-MM-dd HH:mm:ss.SSS"


def payload_fields(key_col: str, value_cols: list[tuple[str, str]]) -> StructType:
    """Payload StructType: key + (name, ddl-type) value columns + __deleted.

    All wire values that are decimals must be declared StringType by the
    caller (decimal-as-string convention).
    """
    fields = [StructField(key_col, LongType())]
    fields += [StructField(n, _ddl(t)) for n, t in value_cols]
    fields.append(StructField(DELETED_COL, StringType()))
    return StructType(fields)


def _ddl(t: str):
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(t)


def envelope_schema(payload: StructType) -> StructType:
    """Schema accepting both envelope shapes in one parse.

    ``from_json`` leaves absent fields null, so parsing a bare payload fills
    the top-level copies and leaves ``payload`` null, and vice versa; the
    unwrap coalesces the two.
    """
    fields = list(payload.fields)
    fields.append(StructField("payload", payload))
    return StructType(fields)


# The CDC payload used by the synthetic order-event fixtures: TPC-H orders
# keyed by o_orderkey, with total_price as string (decimal-as-string) and the
# order timestamp as a formatted string (timezone-independent NTZ roundtrip).
ORDER_EVENT_PAYLOAD = StructType(
    [
        StructField("order_key", LongType()),
        StructField("cust_key", LongType()),
        StructField("status", StringType()),
        StructField("total_price", StringType()),
        StructField("order_ts", StringType()),
        StructField("priority", StringType()),
        StructField(DELETED_COL, StringType()),
    ]
)

ORDER_EVENT_ENVELOPE = envelope_schema(ORDER_EVENT_PAYLOAD)
