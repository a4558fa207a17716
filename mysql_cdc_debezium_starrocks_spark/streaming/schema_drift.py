"""Schema-drift detection over the CDC wire stream.

The reference captures DDL to a schema-history topic but applies nothing
automatically — README.md:326 warns that schema changes need operator
intervention, and until the operator acts, the Routine Load's fixed
``COLUMNS(...)``/``jsonpaths`` mapping (create-routine-load.sh:16,21)
silently DROPS any new column arriving on the wire.  This module closes
that observability gap: every wire batch can be probed for payload fields
that are NOT in the declared envelope, and the findings land in a
drift log next to the schema-history DDL log
(schema_history.py) — so the operator learns about upstream ALTERs from
the data itself, with sequence provenance, instead of from user bug
reports about missing columns.

Detection is one aggregated job over the batch: parse each event's payload
as ``map<string,string>`` (both envelope shapes — the ``payload`` wrapper
is unwrapped first), explode the keys, anti-filter the declared set, and
partial-aggregate per unknown field (count, first/last sequence, a sample
value).  Cost is O(batch), shuffles only the unknown-field partials (zero
rows in the steady state where no drift exists), and never touches the
keyed state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..cdc.schemas import SEQ_COL, VALUE_COL

DRIFT_SCHEMA = (
    "field STRING, n_events LONG, first_seq LONG, last_seq LONG, "
    "sample_value STRING"
)


def detect_schema_drift(batch: DataFrame, envelope: StructType) -> DataFrame:
    """Unknown payload fields in a wire batch, one row per field.

    Returns (field, n_events, first_seq, last_seq, sample_value); empty when
    the batch matches the declared envelope exactly.  Nested objects appear
    as their JSON text in ``sample_value`` (the operator decides the type,
    exactly as with the reference's manual DDL application).
    """
    declared = {f.name for f in envelope["payload"].dataType.fields}
    payload = F.coalesce(
        F.get_json_object(F.col(VALUE_COL), "$.payload"), F.col(VALUE_COL)
    )
    pairs = (
        batch.filter(F.col(VALUE_COL).isNotNull())
        .select(
            F.col(SEQ_COL),
            F.explode(F.from_json(payload, "map<string,string>")).alias(
                "field", "val"
            ),
        )
        # 'schema' is the Debezium envelope's own metadata sibling, not data
        .filter(~F.col("field").isin(*declared, "payload", "schema"))
    )
    return pairs.groupBy("field").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(SEQ_COL).alias("first_seq"),
        F.max(SEQ_COL).alias("last_seq"),
        F.max("val").alias("sample_value"),
    )


def _drift_path(drift_dir: str) -> str:
    return os.path.join(drift_dir, "drift_log")


def record_drift(
    spark: SparkSession,
    drift_dir: str,
    batch: DataFrame,
    envelope: StructType,
    batch_id: int | None = None,
) -> int:
    """Probe one batch and log any findings to the drift log.

    With a ``batch_id`` (the streaming path) the findings overwrite the
    batch's own ``drift_log/batch=<id>`` dir, so a checkpoint replay does
    not log them twice; without one they are appended to the log root and
    tagged batch 0 (the dead-letter scheme of ``materializer.merge_batch``).
    Returns the number of drifting fields found (0 in the steady state —
    and then nothing is written, so the enabled-but-clean path costs one
    aggregated probe job and no I/O).
    """
    found = detect_schema_drift(batch, envelope).withColumn(
        "batch_id", F.lit(int(batch_id or 0))
    )
    rows = found.persist()
    try:
        n = rows.count()
        if n:
            out = rows.coalesce(1).write
            if batch_id is None:
                out.mode("append").parquet(_drift_path(drift_dir))
            else:
                out.mode("overwrite").parquet(
                    os.path.join(_drift_path(drift_dir), f"batch={batch_id}")
                )
        return n
    finally:
        rows.unpersist()


def read_drift_log(spark: SparkSession, drift_dir: str) -> DataFrame:
    """The accumulated drift log — the appended files at the log root and
    every batch-keyed dir, read without partition inference; empty when no
    log dir exists yet (read errors propagate)."""
    root = _drift_path(drift_dir)
    if not os.path.isdir(root):
        return spark.createDataFrame([], DRIFT_SCHEMA + ", batch_id LONG")
    return spark.read.option("recursiveFileLookup", "true").parquet(root)
