"""Deterministic synthetic CDC event logs derived from the fixture tables.

Replaces the reference's live MySQL + continuous-ingest.sh data generation
(reference: continuous-ingest.sh:38-96, benchmark.sh:187-207) with a pure
DataFrame derivation so correctness is oracle-checkable: the event log is a
deterministic function of the TPC-H ``orders`` fixture, and DuckDB can mirror
the exact same derivation in SQL.

Event mix (seq gives total order, like a Kafka offset):
- every order        -> insert event  (seq = o_orderkey*3)
- o_orderkey % 5 = 0 -> update event  (seq = o_orderkey*3+1): status UPDATED,
                        total_price += 10.00 (exact decimal arithmetic)
- o_orderkey % 7 = 0 -> delete event  (seq = o_orderkey*3+2, __deleted=true)
- o_orderkey % 11 = 0 -> a null-value tombstone row
                        (drop.tombstones=false, debezium-connector.json:23)

JSON serialization alternates between the two envelope shapes the reference
uses (SURVEY.md §2.1 S7): even keys get {schema-absent, payload:{...}}
wrappers, odd keys get bare payloads.

Scale note: everything is narrow (no shuffle) — a map-only derivation that at
100 TB parallelizes over input splits untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from .apply import encode_envelope
from .schemas import DELETED_COL, SEQ_COL, TS_WIRE_FORMAT, VALUE_COL

UPDATE_MOD = 5
DELETE_MOD = 7
TOMBSTONE_MOD = 11


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(10,2)").alias("total_price_dec"),
        F.date_format(F.col("o_orderdate"), TS_WIRE_FORMAT).alias("order_ts"),
        F.col("o_orderpriority").alias("priority"),
    )


def _event_structs(b: DataFrame) -> Column:
    """Per-order array of event structs (insert [, update] [, delete]).

    Built as one expression so the whole log derives from a SINGLE scan of
    ``orders`` — the earlier 3-branch union scanned the table once per op
    type.  ``slice(array(x), 1, 0)`` is the typed empty array for the
    conditional branches.
    """

    def ev(seq_off: int, **over: Column) -> Column:
        fields = {
            "_seq": (F.col("order_key") * 3 + seq_off).cast("long"),
            "order_key": F.col("order_key"),
            "cust_key": F.col("cust_key"),
            "status": F.col("status"),
            "total_price": F.col("total_price_dec").cast("string"),
            "order_ts": F.col("order_ts"),
            "priority": F.col("priority"),
            "__deleted": F.lit("false"),
        }
        fields.update(over)
        return F.struct(*[c.alias(n) for n, c in fields.items()])

    ins = ev(0)
    upd = ev(
        1,
        status=F.lit("UPDATED"),
        total_price=(
            F.col("total_price_dec") + F.lit("10.00").cast("decimal(10,2)")
        )
        .cast("decimal(10,2)")
        .cast("string"),
    )
    null_s = F.lit(None).cast("string")
    del_ = ev(
        2,
        cust_key=F.lit(None).cast("long"),
        status=null_s,
        total_price=null_s,
        order_ts=null_s,
        priority=null_s,
        __deleted=F.lit("true"),
    )

    def maybe(e: Column, mod: int) -> Column:
        return F.when(
            F.col("order_key") % mod == 0, F.array(e)
        ).otherwise(F.slice(F.array(e), 1, 0))

    return F.concat(F.array(ins), maybe(upd, UPDATE_MOD), maybe(del_, DELETE_MOD))


def synth_order_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured (pre-serialization) event rows: one per insert/update/delete.

    Columns: _seq, order_key, cust_key, status, total_price (string),
    order_ts, priority, __deleted.  Map-only single-scan derivation
    (scan -> explode), no union, no shuffle.
    """
    b = _base(spark, sf_dir)
    return b.select(F.explode(_event_structs(b)).alias("e")).select("e.*")


def synth_order_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-format event log: (_seq, value) with JSON-string values.

    Exercises both envelope shapes plus null tombstones, exactly like the
    reference's Kafka topics would deliver.  Single scan of ``orders``:
    per-row event array -> serialize each element -> append the optional
    tombstone pair -> explode.  Map-only; at 100 TB this parallelizes over
    input splits with zero shuffle.
    """
    b = _base(spark, sf_dir)
    # Spread the scan when the fixture is a single parquet file (one split
    # caps the expensive to_json/from_json round-trip at one task).  The
    # base projection is the cheapest point to exchange — narrower than the
    # exploded event log.  Skipped for multi-split inputs (clusters, staged
    # bench layout), where scan parallelism is already right.
    target = spark.sparkContext.defaultParallelism
    if len(b.inputFiles()) < max(2, target // 2):
        b = b.repartition(target)

    def serialize(e: Column) -> Column:
        payload = F.struct(
            *[
                e[n].alias(n)
                for n in (
                    "order_key",
                    "cust_key",
                    "status",
                    "total_price",
                    "order_ts",
                    "priority",
                    DELETED_COL,
                )
            ]
        )
        return F.struct(
            e[SEQ_COL].alias(SEQ_COL),
            encode_envelope(payload, wrap=F.col("order_key") % 2 == 0).alias(
                VALUE_COL
            ),
        )

    tombstone = F.struct(
        (F.col("order_key") * 3 + 3).cast("long").alias(SEQ_COL),
        F.lit(None).cast("string").alias(VALUE_COL),
    )
    wire = F.concat(
        F.transform(_event_structs(b), serialize),
        F.when(F.col("order_key") % TOMBSTONE_MOD == 0, F.array(tombstone)).otherwise(
            F.slice(F.array(tombstone), 1, 0)
        ),
    )
    return b.select(F.explode(wire).alias("w")).select("w.*")
