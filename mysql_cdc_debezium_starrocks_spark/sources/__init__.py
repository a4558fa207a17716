"""Sources: synthetic CDC workload generator + ingress builders.

Replaces the reference's data-generation stack — MySQL + continuous-ingest.sh
(reference: continuous-ingest.sh:16-21 rate knobs, :38-41 vocabularies,
:76-96 random value helpers; benchmark.sh:187-207 batch INSERT generator) —
with pure DataFrame derivations:

- ``workload_batch``: N insert/update/delete events at a configured mix with
  the reference's product/name/status vocabularies, deterministic under a
  seed.  ``spark.range`` + column expressions; map-only, no shuffle, no
  Python — scales linearly to any N.
- ``workload_stream``: the same event synthesis over the ``rate`` streaming
  source — continuous generation at ``rows_per_second`` (T10), feedable
  straight into the streaming materializer.
- ``jdbc_source`` / ``file_event_source``: ingress builders for the real
  deployments (S1/S2 snapshot + S5 file/Kafka event log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.apply import encode_envelope
from ..cdc.schemas import DELETED_COL, INGEST_SCHEMA, SEQ_COL, VALUE_COL

# reference vocabularies (continuous-ingest.sh:38-41)
PRODUCTS = ["Laptop", "Phone", "Tablet", "Monitor", "Keyboard",
            "Mouse", "Headphones", "Webcam", "Speaker", "Charger"]
FIRST_NAMES = ["John", "Jane", "Bob", "Alice", "Charlie",
               "Diana", "Eve", "Frank", "Grace", "Henry"]
LAST_NAMES = ["Smith", "Johnson", "Williams", "Brown", "Jones",
              "Garcia", "Miller", "Davis", "Rodriguez", "Martinez"]
STATUSES = ["pending", "processing", "shipped", "delivered", "cancelled"]

# default op mix: 10 inserts / 5 updates / 1 delete per second
# (continuous-ingest.sh:16-21, README.md:195-208)
DEFAULT_MIX = (10, 5, 1)


def _pick(arr: list[str], idx) -> F.Column:
    return F.element_at(F.array(*[F.lit(x) for x in arr]), (idx % len(arr) + 1).cast("int"))


def _synth_event(id_col, seed: int) -> list:
    """Deterministic pseudo-random event columns from an id (xxhash64-mixed,
    so adjacent ids decorrelate — the Spark analog of $RANDOM)."""
    h = F.abs(F.xxhash64(id_col.cast("string"), F.lit(seed)))
    first = _pick(FIRST_NAMES, h)
    last = _pick(LAST_NAMES, F.shiftright(h, 8))
    name = F.concat_ws(" ", first, last)
    email = F.concat(
        F.lower(first), F.lit("."), F.lower(last),
        F.lit(""), (h % 1000).cast("string"), F.lit("@example.com"),
    )  # continuous-ingest.sh:77-84 email shape
    amount = F.round(
        (h % 199000) / 100.0 + 10.0, 2
    ).cast("decimal(10,2)")  # 10.00-2000.00 (continuous-ingest.sh:94-96)
    return [
        name.alias("customer_name"),
        email.alias("email"),
        _pick(PRODUCTS, F.shiftright(h, 16)).alias("product"),
        amount.alias("amount"),
        _pick(STATUSES, F.shiftright(h, 24)).alias("status"),
    ]


def _op_col(id_col, mix: tuple[int, int, int]):
    """insert/update/delete tag at the configured ratio, deterministic."""
    ins, upd, dele = mix
    total = ins + upd + dele
    slot = F.abs(F.xxhash64(id_col.cast("string"), F.lit(777))) % total
    return (
        F.when(slot < ins, F.lit("c"))
        .when(slot < ins + upd, F.lit("u"))
        .otherwise(F.lit("d"))
    )


def _to_wire(df: DataFrame, key_space: int, mix: tuple[int, int, int], seed: int) -> DataFrame:
    """(seq id) -> Debezium-shaped JSON wire rows (_seq, value)."""
    id_col = F.col("id")
    op = _op_col(id_col, mix)
    key = (F.abs(F.xxhash64(id_col.cast("string"), F.lit(seed + 1))) % key_space).alias(
        "order_key"
    )
    payload = F.struct(
        key,
        *_synth_event(id_col, seed),
        F.when(op == "d", F.lit("true")).otherwise(F.lit("false")).alias(DELETED_COL),
        op.alias("op"),
    )
    # alternate envelope shapes like real mixed producers (SURVEY §2.1 S7)
    return df.select(
        id_col.alias(SEQ_COL),
        encode_envelope(payload, wrap=id_col % 2 == 0).alias(VALUE_COL),
    )


def workload_batch(
    spark: SparkSession,
    n_events: int,
    key_space: int = 10_000,
    mix: tuple[int, int, int] = DEFAULT_MIX,
    seed: int = 42,
) -> DataFrame:
    """Bounded synthetic CDC event log (benchmark.sh batch-insert analog)."""
    return _to_wire(spark.range(n_events), key_space, mix, seed)


def workload_stream(
    spark: SparkSession,
    rows_per_second: int = 16,
    key_space: int = 10_000,
    mix: tuple[int, int, int] = DEFAULT_MIX,
    seed: int = 42,
) -> DataFrame:
    """Unbounded synthetic CDC stream at a target rate (T10).

    ``rate`` source emits (timestamp, value); value becomes the sequence.
    Feed into the materializer's foreachBatch for a fully self-contained
    continuous pipeline — no MySQL/Kafka needed.
    """
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(F.col("value").alias("id"))
    )
    return _to_wire(rate, key_space, mix, seed)


def file_event_source(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """JSON event-log directory stream: (_seq, value) rows (S5 file mode).

    The materializer's file path builds on this (micro-batch sizing via
    ``max_files_per_trigger``, T1).
    """
    reader = spark.readStream.schema(INGEST_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def jdbc_source(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """Parallel JDBC snapshot read (S2 initial-snapshot analog).

    Partitioned on the PK so the snapshot parallelizes across executors —
    the reference's snapshot.mode=initial single-reader equivalent, scaled.
    Untestable here (no database); builder returns the lazy plan.
    """
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column:
        r = (
            r.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound or 0))
            .option("upperBound", str(upper_bound or 1_000_000))
        )
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def csv_source_with_deadletter(
    spark: SparkSession,
    path: str,
    schema: str,
    delimiter: str = ",",
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE CSV read split into (good, dead-letter) — the batch analog
    of Routine Load's max_error_number pause semantics (T8: instead of
    pausing the job on malformed rows, quarantine them and continue).

    Returns two DataFrames off ONE scan: rows that parsed cleanly, and rows
    whose raw text landed in the corrupt-record column (with that raw text
    preserved for replay after a fix).  Both are lazy views over the same
    cached parse, so the file is read once.
    """
    full = schema + ", _corrupt STRING"
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .csv(path)
        .cache()
    )
    good = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    bad = df.filter(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("raw")
    )
    return good, bad
