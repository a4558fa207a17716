"""Schema-history sink (SURVEY.md §2.1 S9).

The reference routes DDL events to a dedicated Kafka topic
(``schemahistory.testdb`` — debezium-connector.json:17-19,
docs/MANUAL_SETUP.md:194) and applies them manually (README.md:326 warns DDL
needs operator intervention).  The Spark analog is a side append-only log:
DDL-shaped JSON events stream into a parquet history table; consumers read
the ordered log or the latest statement per table.  Like the reference, the
engine records but does not auto-apply DDL — schema evolution stays an
operator decision (SURVEY.md §1.2).

Scale: the history stream is tiny (human-initiated DDL), so the sink is a
plain append with checkpointed offsets; the "current definition" view is a
partial-agg ``max_by`` per table, never a window over the full log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ._state import trigger_args

SCHEMA_HISTORY_EVENT = StructType(
    [
        StructField("_seq", LongType()),       # event order (Kafka offset analog)
        StructField("database", StringType()),
        StructField("table", StringType()),
        StructField("ddl", StringType()),      # raw statement, stored verbatim
    ]
)


def _log_path(sink_dir: str) -> str:
    return os.path.join(sink_dir, "ddl_log")


def start_schema_history(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """Stream DDL events from a JSON directory into the parquet history log.

    ``trigger_seconds=None`` drains what is available and stops
    (``availableNow``), mirroring the batchy cadence of real DDL.
    """
    src = spark.readStream.schema(SCHEMA_HISTORY_EVENT).json(source_dir)
    writer = (
        src.filter(F.col("ddl").isNotNull())
        .writeStream.format("parquet")
        .option("path", _log_path(sink_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(**trigger_args(trigger_seconds))
    )
    return writer.start()


def read_schema_history(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The full ordered DDL log for a database (the SHOW-history surface)."""
    return spark.read.schema(SCHEMA_HISTORY_EVENT).parquet(_log_path(sink_dir)).orderBy("_seq")


def latest_ddl_per_table(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Last DDL statement per (database, table) — the 'current definition'
    view, reduced with partial-aggregatable max_by (no ranking window)."""
    log = spark.read.schema(SCHEMA_HISTORY_EVENT).parquet(_log_path(sink_dir))
    return log.groupBy("database", "table").agg(
        F.max("_seq").alias("_seq"),
        F.max_by("ddl", "_seq").alias("ddl"),
    )
