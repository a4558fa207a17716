"""Streaming materializer E2E: the asserted version of test-pipeline.sh.

The reference smoke (test-pipeline.sh:12-40) inserts/updates/deletes and
eyeballs SELECTs; here the same sequence is streamed through the engine and
the materialized state is asserted — including delete propagation (the case
the committed reference config silently drops, SURVEY.md §2.10 T5) and
checkpoint resume (T3).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.streaming import (
    CdcLoadConfig,
    LoadJobManager,
    read_state,
)


def _write_events(path: str, fname: str, events: list[dict | None]) -> None:
    """One JSON event per line; None -> tombstone row (null value)."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, fname), "w") as f:
        for i, e in enumerate(events):
            if e is None:
                f.write(json.dumps({"_seq": 10_000 + i, "value": None}) + "\n")
            else:
                seq = e.pop("_seq")
                f.write(json.dumps({"_seq": seq, "value": json.dumps(e)}) + "\n")


def _cfg(tmp_path, name="t_orders", **kw) -> CdcLoadConfig:
    return CdcLoadConfig(
        name=name,
        source_dir=str(tmp_path / "events"),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        **kw,
    )


SEED = [
    # the 3 seed orders of mysql/init/01-init.sql:21-24, envelope shape 1
    {"_seq": 1, "payload": {"order_key": 1, "cust_key": 11, "status": "pending",
                            "total_price": "99.99", "__deleted": "false"}},
    {"_seq": 2, "payload": {"order_key": 2, "cust_key": 12, "status": "shipped",
                            "total_price": "149.50", "__deleted": "false"}},
    # bare-payload shape (create-routine-load.sh:21 style)
    {"_seq": 3, "order_key": 3, "cust_key": 13, "status": "pending",
     "total_price": "75.25", "__deleted": "false"},
]


def test_streaming_insert_update_delete(spark, tmp_path):
    """test-pipeline.sh sequence: snapshot + insert + update + delete."""
    events_dir = str(tmp_path / "events")
    _write_events(events_dir, "batch1.json", [dict(e) for e in SEED])
    _write_events(events_dir, "batch2.json", [
        # INSERT (test-pipeline.sh:13-15)
        {"_seq": 4, "payload": {"order_key": 4, "cust_key": 14, "status": "new",
                                "total_price": "200.00", "__deleted": "false"}},
        # UPDATE order 1 (test-pipeline.sh:18-19)
        {"_seq": 5, "order_key": 1, "cust_key": 11, "status": "completed",
         "total_price": "99.99", "__deleted": "false"},
        # DELETE order 2 (test-pipeline.sh:22-23) — must actually remove
        {"_seq": 6, "payload": {"order_key": 2, "__deleted": "true"}},
        None,  # kafka tombstone (drop.tombstones=false) must not crash
    ])

    cfg = _cfg(tmp_path)
    mgr = LoadJobManager(spark)
    q = mgr.create(cfg)
    q.awaitTermination(120)

    state = read_state(spark, cfg)
    rows = {r.order_key: r for r in state.collect()}
    assert set(rows) == {1, 3, 4}, "delete of key 2 must propagate"
    assert rows[1].status == "completed"
    assert rows[1].total_price == "99.99"
    assert rows[4].status == "new"

    # SHOW ROUTINE LOAD analog reports the finished job
    [job] = mgr.show()
    assert job["JobName"] == "t_orders"
    assert job["Statistic"]["batchId"] is not None
    # the tombstone-GC interval ledger surfaces (VERDICT r05 #4): an
    # in-order drain leaves one contiguous interval, no pending gaps
    led = job["GcLedger"]
    assert led is not None and led["n_gaps"] == 0
    assert led["n_intervals"] == 1 and led["contiguous_horizon"] == 6
    assert led["oldest_gap_age_batches"] is None


def test_kafka_projection_matches_file_source(spark, tmp_path):
    """S4 without a broker (round-1 verdict item 5): canned rows with Kafka's
    exact record schema (key/value binary, topic, partition, offset,
    timestamp) through ``kafka_project`` + merge must produce the IDENTICAL
    state as the same events through the file source — offset->_seq mapping,
    both envelope shapes, and null-value tombstones included."""
    from datetime import datetime

    from mysql_cdc_debezium_starrocks_spark.streaming import merge_batch
    from mysql_cdc_debezium_starrocks_spark.streaming.materializer import (
        kafka_project,
    )

    events = [dict(e) for e in SEED] + [
        {"_seq": 4, "payload": {"order_key": 2, "__deleted": "true"}},
        None,  # tombstone: Kafka null value (drop.tombstones=false)
    ]

    # file-source path
    f_dir = str(tmp_path / "f")
    _write_events(os.path.join(f_dir, "events"), "b.json", [dict(e) if e else None for e in events])
    f_cfg = CdcLoadConfig(
        name="k_file",
        source_dir=os.path.join(f_dir, "events"),
        state_dir=os.path.join(f_dir, "state"),
        checkpoint_dir=os.path.join(f_dir, "ckpt"),
    )
    batch = spark.read.schema("`_seq` LONG, value STRING").json(f_cfg.source_dir)
    merge_batch(spark, f_cfg, batch)

    # kafka-shaped path: same events as consumer records
    def krow(offset, body: dict | None):
        val = None if body is None else json.dumps(
            {k: v for k, v in body.items() if k != "_seq"}
        ).encode()
        return (
            json.dumps({"k": offset}).encode(),  # debezium PK key (opaque here)
            val,
            "mysql_server.inventory.orders",  # docker-compose topic naming
            0,
            offset,
            datetime(2024, 1, 1, 0, 0, offset % 60),
            0,
        )

    kafka_schema = (
        "key BINARY, value BINARY, topic STRING, partition INT, "
        "offset LONG, timestamp TIMESTAMP, timestampType INT"
    )
    records = spark.createDataFrame(
        [krow(e["_seq"] if e else 10_000 + i, e) for i, e in enumerate(events)],
        kafka_schema,
    )
    projected = kafka_project(records)
    assert projected.columns == ["_seq", "value"]

    k_cfg = CdcLoadConfig(
        name="k_kafka",
        source_dir=str(tmp_path / "unused"),
        state_dir=str(tmp_path / "k_state"),
        checkpoint_dir=str(tmp_path / "k_ckpt"),
    )
    merge_batch(spark, k_cfg, projected)

    f_state = sorted(map(tuple, read_state(spark, f_cfg).collect()))
    k_state = sorted(map(tuple, read_state(spark, k_cfg).collect()))
    assert k_state == f_state and len(k_state) == 2, (
        f"kafka path diverged: {k_state} vs {f_state}"
    )


def test_kafka_wire_roundtrip_with_tombstones(spark):
    """VERDICT r02 next #6 contract test: the OUTBOUND wire format
    (``to_envelope_wire``) wrapped in Kafka's exact record schema —
    including null-value tombstones, drop.tombstones=false
    (debezium-connector.json:23) — round-trips through ``kafka_project``
    and ``parse_envelope`` losslessly.  Tombstone rows must SURVIVE the
    projection (they carry the key's deletion marker downstream consumers
    may need) and be filtered exactly where the file path filters them:
    ``parse_envelope``'s value-NULL filter."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.cdc.apply import (
        parse_envelope,
        to_envelope_wire,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.materializer import (
        kafka_project,
    )

    typed = spark.createDataFrame(
        [
            (1, 101, 11, "new", "10.00", "2024-01-01 00:00:00.000",
             "1-URGENT", "false"),
            (2, 102, 12, "shipped", "20.00", "2024-01-01 00:00:01.000",
             "2-HIGH", "false"),
            (3, 102, 12, "shipped", "20.00", "2024-01-01 00:00:01.000",
             "2-HIGH", "true"),
        ],
        "`_seq` LONG, order_key LONG, cust_key LONG, status STRING, "
        "total_price STRING, order_ts STRING, priority STRING, "
        "`__deleted` STRING",
    )
    wire = to_envelope_wire(typed).collect()  # (_seq, value-json) rows

    kafka_schema = (
        "key BINARY, value BINARY, topic STRING, partition INT, "
        "offset LONG, timestamp TIMESTAMP, timestampType INT"
    )
    now = datetime(2024, 1, 1)
    records = spark.createDataFrame(
        [
            (str(r["_seq"]).encode(), r["value"].encode(),
             "mysql_server.inventory.orders", 0, r["_seq"], now, 0)
            for r in wire
        ]
        + [  # tombstones: key-only records with a NULL value
            (b"2", None, "mysql_server.inventory.orders", 0, 100, now, 0),
            (b"9", None, "mysql_server.inventory.orders", 0, 101, now, 0),
        ],
        kafka_schema,
    )

    projected = kafka_project(records)
    assert projected.columns == ["_seq", "value"]
    # tombstones SURVIVE the projection (null value, offset preserved) ...
    assert projected.count() == 5
    tombs = projected.filter(F.col("value").isNull())
    assert sorted(r["_seq"] for r in tombs.collect()) == [100, 101]

    # ... and are dropped exactly at parse_envelope's value-NULL filter,
    # the same place the file source drops them
    parsed = parse_envelope(projected)
    rows = {r["_seq"]: r for r in parsed.collect()}
    assert sorted(rows) == [1, 2, 3]  # the three real events, no tombstones
    assert rows[1]["order_key"] == 101 and rows[1]["status"] == "new"
    assert rows[1]["__deleted"] == "false"
    assert rows[3]["order_key"] == 102
    assert rows[3]["__deleted"] == "true"  # delete-rewrite row intact


def test_streaming_resume_from_checkpoint(spark, tmp_path):
    """RESUME semantics (T3): new events after a stop are picked up, old
    offsets are not reprocessed (idempotent state either way)."""
    events_dir = str(tmp_path / "events")
    _write_events(events_dir, "b1.json", [dict(e) for e in SEED])

    cfg = _cfg(tmp_path, name="t_resume")
    mgr = LoadJobManager(spark)
    mgr.create(cfg)
    mgr.await_all(120)
    assert read_state(spark, cfg).count() == 3

    # stop happened (availableNow drained); add a delete + an insert, resume
    _write_events(events_dir, "b2.json", [
        {"_seq": 7, "payload": {"order_key": 3, "__deleted": "true"}},
        {"_seq": 8, "payload": {"order_key": 9, "cust_key": 19, "status": "new",
                                "total_price": "1.00", "__deleted": "false"}},
    ])
    mgr.resume("t_resume")
    mgr.await_all(120)

    state = read_state(spark, cfg)
    assert {r.order_key for r in state.collect()} == {1, 2, 9}


def test_streaming_dead_letter_quarantine(spark, tmp_path):
    """Malformed payloads are quarantined, not fatal (T8 error-pause analog)."""
    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)
    with open(os.path.join(events_dir, "bad.json"), "w") as f:
        f.write(json.dumps({"_seq": 1, "value": "{not json at all"}) + "\n")
        f.write(json.dumps({"_seq": 2, "value": json.dumps(
            {"order_key": 5, "cust_key": 15, "status": "ok",
             "total_price": "5.00", "__deleted": "false"})}) + "\n")

    cfg = _cfg(tmp_path, name="t_dlq")
    LoadJobManager(spark).create(cfg).awaitTermination(120)

    state = read_state(spark, cfg)
    assert [r.order_key for r in state.collect()] == [5]
    dlq = spark.read.parquet(str(tmp_path / "state" / "_dead_letter"))
    assert dlq.count() == 1


def test_streaming_upsert_within_batch_order(spark, tmp_path):
    """Last-write-wins must respect _seq inside a single micro-batch."""
    events_dir = str(tmp_path / "events")
    _write_events(events_dir, "b.json", [
        {"_seq": 30, "payload": {"order_key": 1, "cust_key": 1, "status": "late",
                                 "total_price": "3.00", "__deleted": "false"}},
        {"_seq": 10, "payload": {"order_key": 1, "cust_key": 1, "status": "early",
                                 "total_price": "1.00", "__deleted": "false"}},
        {"_seq": 20, "payload": {"order_key": 1, "cust_key": 1, "status": "mid",
                                 "total_price": "2.00", "__deleted": "false"}},
    ])
    cfg = _cfg(tmp_path, name="t_order", max_files_per_trigger=1)
    LoadJobManager(spark).create(cfg).awaitTermination(120)
    [row] = read_state(spark, cfg).collect()
    assert row.status == "late" and row.total_price == "3.00"


def test_incremental_merge_touches_only_affected_buckets(spark, tmp_path):
    """The bucket-partitioned state must be INCREMENTALLY maintained: a
    micro-batch touching one key rewrites only that key's bucket directory;
    every other bucket's files stay byte-identical (same names, same
    mtimes).  This is the O(touched)-not-O(state) property that keeps the
    upsert stream viable at 100 TB."""
    import glob

    events_dir = str(tmp_path / "events")
    # seed 40 keys so every one of the 4 buckets is populated
    _write_events(events_dir, "b1.json", [
        {"_seq": k, "payload": {"order_key": k, "cust_key": k, "status": "seed",
                                "total_price": "1.00", "__deleted": "false"}}
        for k in range(1, 41)
    ])
    cfg = _cfg(tmp_path, name="t_incr")
    mgr = LoadJobManager(spark)
    mgr.create(cfg)
    mgr.await_all(120)

    state_glob = str(tmp_path / "state" / "current" / "_bucket=*" / "*.parquet")
    before = {p: os.stat(p).st_mtime_ns for p in glob.glob(state_glob)}
    buckets_before = {p.split("_bucket=")[1].split("/")[0] for p in before}
    assert len(buckets_before) == 4, "all 4 buckets must be populated"

    # update ONE key
    _write_events(events_dir, "b2.json", [
        {"_seq": 100, "payload": {"order_key": 7, "cust_key": 7, "status": "upd",
                                  "total_price": "2.00", "__deleted": "false"}},
    ])
    mgr.resume("t_incr")
    mgr.await_all(120)

    after = {p: os.stat(p).st_mtime_ns for p in glob.glob(state_glob)}
    from pyspark.sql import functions as F  # noqa: F811
    from mysql_cdc_debezium_starrocks_spark.storage import bucket_of

    [touched] = [
        r[0]
        for r in spark.range(1)
        .select(F.lit(7).alias("order_key"))
        .select(bucket_of("order_key", 4))
        .collect()
    ]
    untouched_before = {p: t for p, t in before.items() if f"_bucket={touched}/" not in p}
    untouched_after = {p: t for p, t in after.items() if f"_bucket={touched}/" not in p}
    assert untouched_before == untouched_after, (
        "untouched bucket files must be byte-identical (not rewritten)"
    )
    # and the touched bucket did change
    assert {p for p in before if f"_bucket={touched}/" in p} != {
        p for p in after if f"_bucket={touched}/" in p
    }
    # state is still correct
    rows = {r.order_key: r.status for r in read_state(spark, cfg).collect()}
    assert len(rows) == 40 and rows[7] == "upd"


def test_sql_serving_on_live_view(spark, tmp_path):
    """SURVEY.md §3.2 entry point: the reference's verification SQL
    (test-pipeline.sh:35-40, README.md:91-92) runs verbatim via spark.sql
    over the registered live view."""
    from mysql_cdc_debezium_starrocks_spark.streaming import register_live_view

    events_dir = str(tmp_path / "events")
    _write_events(events_dir, "b1.json", [dict(e) for e in SEED])
    cfg = _cfg(tmp_path, name="t_sql")
    LoadJobManager(spark).create(cfg).awaitTermination(120)

    register_live_view(spark, cfg, "orders_live")
    top = spark.sql(
        "SELECT * FROM orders_live ORDER BY order_key DESC LIMIT 5"
    ).collect()
    assert [r.order_key for r in top] == [3, 2, 1]
    [cnt] = spark.sql("SELECT count(*) AS n FROM orders_live").collect()
    assert cnt.n == 3
    [agg] = spark.sql(
        "SELECT count(CASE WHEN status = 'pending' THEN 1 END) AS pending "
        "FROM orders_live"
    ).collect()
    assert agg.pending == 2


def test_schema_history_sink(spark, tmp_path):
    """S9: DDL events stream into the history log; latest-per-table view
    reflects the newest statement (reference: schemahistory.testdb topic)."""
    from mysql_cdc_debezium_starrocks_spark.streaming.schema_history import (
        latest_ddl_per_table,
        read_schema_history,
        start_schema_history,
    )

    src = str(tmp_path / "ddl_events")
    sink = str(tmp_path / "ddl_sink")
    ckpt = str(tmp_path / "ddl_ckpt")
    os.makedirs(src, exist_ok=True)
    events = [
        {"_seq": 1, "database": "testdb", "table": "orders",
         "ddl": "CREATE TABLE orders (order_id INT PRIMARY KEY)"},
        {"_seq": 2, "database": "testdb", "table": "customers",
         "ddl": "CREATE TABLE customers (customer_id INT PRIMARY KEY)"},
        {"_seq": 3, "database": "testdb", "table": "orders",
         "ddl": "ALTER TABLE orders ADD COLUMN notes TEXT"},
    ]
    with open(os.path.join(src, "batch0.json"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    q = start_schema_history(spark, src, sink, ckpt)
    q.awaitTermination(60)

    log = read_schema_history(spark, sink).collect()
    assert [r["_seq"] for r in log] == [1, 2, 3]

    latest = {r["table"]: r["ddl"] for r in latest_ddl_per_table(spark, sink).collect()}
    assert latest["orders"].startswith("ALTER TABLE orders")
    assert latest["customers"].startswith("CREATE TABLE customers")

    # idempotent restart: a second drain over the same checkpoint appends nothing
    q2 = start_schema_history(spark, src, sink, ckpt)
    q2.awaitTermination(60)
    assert read_schema_history(spark, sink).count() == 3


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    """PK point read (persistent-index analog): returns the latest row for
    the key, and its plan partition-prunes to exactly one bucket dir."""
    from mysql_cdc_debezium_starrocks_spark.plans import plan_of
    from mysql_cdc_debezium_starrocks_spark.streaming.materializer import (
        point_lookup,
    )

    events_dir = str(tmp_path / "events")
    _write_events(events_dir, "b1.json", [dict(e) for e in SEED])
    _write_events(events_dir, "b2.json", [
        {"_seq": 9, "order_key": 1, "cust_key": 11, "status": "completed",
         "total_price": "99.99", "__deleted": "false"},
    ])
    cfg = _cfg(tmp_path, name="t_lookup")
    q = LoadJobManager(spark).create(cfg)
    q.awaitTermination(120)

    hit = point_lookup(spark, cfg, 1)
    plan = plan_of(hit)
    assert "PartitionFilters" in plan and "_bucket" in plan
    [row] = hit.collect()
    assert row.status == "completed" and row.total_price == "99.99"

    miss = point_lookup(spark, cfg, 999)
    assert miss.collect() == []


def test_two_table_concurrent_loads(spark, tmp_path):
    """The reference captures TWO tables (orders + customers,
    debezium-connector.json:12-13) through independent load jobs; the
    manager must run both concurrently, keep their state separate, and
    SHOW both (monitor.sh analog)."""
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
    )

    from mysql_cdc_debezium_starrocks_spark.cdc.schemas import envelope_schema

    cust_payload = StructType(
        [
            StructField("customer_id", StringType()),
            StructField("name", StringType()),
            StructField("email", StringType()),
            StructField("__deleted", StringType()),
        ]
    )

    o_dir = str(tmp_path / "ev_orders")
    c_dir = str(tmp_path / "ev_cust")
    _write_events(o_dir, "b1.json", [dict(e) for e in SEED])
    _write_events(c_dir, "b1.json", [
        {"_seq": 1, "payload": {"customer_id": "11", "name": "Alice",
                                "email": "a@x.com", "__deleted": "false"}},
        {"_seq": 2, "customer_id": "12", "name": "Bob", "email": "b@x.com",
         "__deleted": "false"},
        {"_seq": 3, "payload": {"customer_id": "11", "__deleted": "true"}},
    ])

    ocfg = CdcLoadConfig(
        name="load_orders",
        source_dir=o_dir,
        state_dir=str(tmp_path / "st_o"),
        checkpoint_dir=str(tmp_path / "ck_o"),
    )
    mgr = LoadJobManager(spark)
    q1 = mgr.create(ocfg)
    q2 = mgr.create(CdcLoadConfig(
        name="load_customers",
        source_dir=c_dir,
        state_dir=str(tmp_path / "st_c"),
        checkpoint_dir=str(tmp_path / "ck_c"),
        envelope=envelope_schema(cust_payload),
        key="customer_id",
    ))
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    orders = read_state(spark, ocfg)
    custs = read_state(spark, CdcLoadConfig(
        name="load_customers", source_dir=c_dir,
        state_dir=str(tmp_path / "st_c"), checkpoint_dir=str(tmp_path / "ck_c"),
        envelope=envelope_schema(cust_payload), key="customer_id"))
    assert {r.order_key for r in orders.collect()} == {1, 2, 3}
    crows = {r.customer_id: r for r in custs.collect()}
    assert set(crows) == {"12"}, "delete of customer 11 must propagate"
    assert crows["12"].name == "Bob"

    names = {j["JobName"] for j in mgr.show()}
    assert names == {"load_orders", "load_customers"}


def test_alter_restarts_with_new_properties(spark, tmp_path):
    """ALTER ROUTINE LOAD analog (D7): stop + restart with changed
    properties on the SAME checkpoint — new events load, old offsets are
    not reprocessed, and the config change sticks."""
    events_dir = str(tmp_path / "events")
    _write_events(events_dir, "b1.json", [dict(e) for e in SEED])

    cfg = _cfg(tmp_path, name="t_alter")
    mgr = LoadJobManager(spark)
    mgr.create(cfg)
    mgr.await_all()
    assert {r.order_key for r in read_state(spark, cfg).collect()} == {1, 2, 3}

    _write_events(events_dir, "b2.json", [
        {"_seq": 7, "payload": {"order_key": 7, "cust_key": 17,
                                "status": "new", "total_price": "5.00",
                                "__deleted": "false"}},
    ])
    q = mgr.alter("t_alter", max_files_per_trigger=2)
    q.awaitTermination(120)
    assert mgr._configs["t_alter"].max_files_per_trigger == 2
    assert {r.order_key for r in read_state(spark, cfg).collect()} == {1, 2, 3, 7}
    [job] = mgr.show()
    assert job["JobName"] == "t_alter"


def test_benchmark_orders_bounded_update_workload(spark, tmp_path):
    """The reference's benchmark table workload (benchmark.sh:118-127,278):
    wider benchmark_orders schema (quantity + notes), batch inserts, then
    the bounded mutation ``UPDATE ... SET status='processing',
    notes=CONCAT(notes,' - Updated') ... LIMIT 2`` expressed as CDC update
    events for the 2 lowest pending ids, plus a delete — applied through
    the real streaming materializer."""
    from mysql_cdc_debezium_starrocks_spark.cdc.schemas import (
        envelope_schema,
        payload_fields,
    )

    payload = payload_fields(
        "id",
        [
            ("customer_name", "string"),
            ("product", "string"),
            ("amount", "string"),      # decimal-as-string convention
            ("quantity", "int"),
            ("status", "string"),
            ("notes", "string"),
        ],
    )
    events_dir = str(tmp_path / "events")
    inserts = [
        {"_seq": i, "payload": {
            "id": i, "customer_name": f"Customer_{i}", "product": "Laptop",
            "amount": f"{100 + i}.50", "quantity": i, "status": "pending",
            "notes": f"note{i}", "__deleted": "false"}}
        for i in range(1, 7)
    ]
    _write_events(events_dir, "b1.json", inserts)
    # bounded mutation: the 2 lowest pending ids (reference LIMIT 2 pattern)
    updates = [
        {"_seq": 10 + i, "payload": {
            "id": i, "customer_name": f"Customer_{i}", "product": "Laptop",
            "amount": f"{100 + i}.50", "quantity": i, "status": "processing",
            "notes": f"note{i} - Updated", "__deleted": "false"}}
        for i in (1, 2)
    ]
    deletes = [{"_seq": 20, "payload": {"id": 6, "__deleted": "true"}}]
    _write_events(events_dir, "b2.json", updates + deletes)

    cfg = CdcLoadConfig(
        name="t_bench_orders",
        source_dir=events_dir,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        envelope=envelope_schema(payload),
        key="id",
    )
    q = LoadJobManager(spark).create(cfg)
    q.awaitTermination(120)

    rows = {r.id: r for r in read_state(spark, cfg).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}, "id 6 deleted"
    for i in (1, 2):
        assert rows[i].status == "processing"
        assert rows[i].notes == f"note{i} - Updated"
    for i in (3, 4, 5):
        assert rows[i].status == "pending"
        assert rows[i].notes == f"note{i}"
    assert rows[3].quantity == 3 and rows[3].amount == "103.50"


def test_incremental_scd2_matches_batch_derivation(spark, tmp_path):
    """The incrementally-maintained SCD2 history (3 micro-batches with
    update, delete, and resurrection) must equal the one-shot interval
    derivation over the full event log; a replayed batch must change
    nothing (snapshot idempotency)."""
    from mysql_cdc_debezium_starrocks_spark.streaming.scd2 import (
        merge_scd2_batch,
        scd2_view,
        start_scd2_load,
    )

    def ev(seq, k, status, deleted="false"):
        p = {"order_key": k, "__deleted": deleted}
        if deleted == "false":
            p.update({"cust_key": 10 + k, "status": status,
                      "total_price": "9.99"})
        return {"_seq": seq, "payload": p}

    b1 = [ev(1, 1, "pending"), ev(2, 2, "pending")]
    b2 = [ev(3, 1, "shipped"), ev(4, 2, None, deleted="true")]
    b3 = [ev(5, 2, "reborn"), ev(6, 1, "done")]
    events_dir = str(tmp_path / "events")
    for i, batch in enumerate([b1, b2, b3]):
        _write_events(events_dir, f"b{i + 1}.json", batch)
        t = 1_700_000_000 + i * 10  # pin mtimes: file source orders by them
        os.utime(os.path.join(events_dir, f"b{i + 1}.json"), (t, t))

    state = str(tmp_path / "scd2")
    src = spark.readStream.schema("`_seq` LONG, value STRING").option(
        "maxFilesPerTrigger", 1
    ).json(events_dir)
    q = start_scd2_load(spark, src, state, str(tmp_path / "ck"))
    q.awaitTermination(120)

    view = scd2_view(spark, state)
    got = {
        (r.order_key, r.version): (r.valid_from_seq, r.valid_to_seq,
                                   r.status, r.is_current)
        for r in view.collect()
    }
    want = {
        (1, 1): (1, 3, "pending", False),
        (1, 2): (3, 6, "shipped", False),
        (1, 3): (6, None, "done", True),
        (2, 1): (2, 4, "pending", False),
        (2, 2): (5, None, "reborn", True),
    }
    assert got == want

    # replay the LAST batch (same batch_id) — snapshots must make it a no-op
    import json as _json

    replay = [ev(5, 2, "reborn"), ev(6, 1, "done")]
    wire = spark.createDataFrame(
        [(e["_seq"], _json.dumps({"payload": e["payload"]})) for e in replay],
        "`_seq` LONG, value STRING",
    )
    last_bid = 2  # availableNow with 1 file/trigger -> batches 0,1,2
    merge_scd2_batch(spark, state, wire, last_bid)
    again = {
        (r.order_key, r.version): (r.valid_from_seq, r.valid_to_seq,
                                   r.status, r.is_current)
        for r in scd2_view(spark, state).collect()
    }
    assert again == want, "replaying the last batch must be idempotent"


def test_scd2_asof_reads_history(spark, tmp_path):
    """AS-OF over the maintained history: picks exactly the version whose
    interval contains the position, including 'key absent' after delete."""
    from mysql_cdc_debezium_starrocks_spark.streaming.scd2 import (
        merge_scd2_batch,
        scd2_asof,
        scd2_view,
    )
    import json as _json

    def wire(events):
        return spark.createDataFrame(
            [(s, _json.dumps({"payload": p})) for s, p in events],
            "`_seq` LONG, value STRING",
        )

    state = str(tmp_path / "st")
    merge_scd2_batch(spark, state, wire([
        (1, {"order_key": 1, "cust_key": 11, "status": "a", "total_price": "1.00", "__deleted": "false"}),
        (2, {"order_key": 2, "cust_key": 12, "status": "b", "total_price": "2.00", "__deleted": "false"}),
    ]), 0)
    merge_scd2_batch(spark, state, wire([
        (3, {"order_key": 1, "cust_key": 11, "status": "a2", "total_price": "1.50", "__deleted": "false"}),
        (4, {"order_key": 2, "__deleted": "true"}),
    ]), 1)

    hist = scd2_view(spark, state)
    at2 = {r.order_key: r.status for r in scd2_asof(hist, 2).collect()}
    assert at2 == {1: "a", 2: "b"}
    at4 = {r.order_key: r.status for r in scd2_asof(hist, 4).collect()}
    assert at4 == {1: "a2"}, "key 2 deleted at seq 4"


def test_stop_live_continuous_load(spark, tmp_path):
    """STOP on a live processingTime-trigger job (the reference's STOP
    ROUTINE LOAD): the job reports RUNNING while up, STOPPED after, and
    state written so far remains readable."""
    import time

    events_dir = str(tmp_path / "events")
    _write_events(events_dir, "b1.json", [dict(e) for e in SEED])
    cfg = _cfg(tmp_path, name="t_stop", trigger_seconds=1)
    mgr = LoadJobManager(spark)
    q = mgr.create(cfg)
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if (q.lastProgress or {}).get("numInputRows"):
                break
            time.sleep(0.5)
        [job] = mgr.show()
        assert job["State"] == "RUNNING"
    finally:
        mgr.stop("t_stop")
    q.awaitTermination(30)
    [job] = mgr.show()
    assert job["State"] == "STOPPED"
    assert {r.order_key for r in read_state(spark, cfg).collect()} == {1, 2, 3}


def test_engine_to_engine_replication(spark, tmp_path):
    """Replication loop: engine A materializes a CDC log; its live state is
    emitted back to the wire (`to_envelope_wire`) and streamed into engine
    B, whose state must equal A's — the outbound-sink capability the
    reference delegates to Kafka retention, closed end-to-end here."""
    import json as _json

    from mysql_cdc_debezium_starrocks_spark.cdc.apply import to_envelope_wire

    # engine A: seed + update + delete
    a_events = str(tmp_path / "a_events")
    _write_events(a_events, "b1.json", [dict(e) for e in SEED])
    _write_events(a_events, "b2.json", [
        {"_seq": 5, "order_key": 1, "cust_key": 11, "status": "completed",
         "total_price": "99.99", "__deleted": "false"},
        {"_seq": 6, "payload": {"order_key": 2, "__deleted": "true"}},
    ])
    cfg_a = CdcLoadConfig(name="rep_a", source_dir=a_events,
                          state_dir=str(tmp_path / "st_a"),
                          checkpoint_dir=str(tmp_path / "ck_a"))
    LoadJobManager(spark).create(cfg_a).awaitTermination(120)
    state_a = read_state(spark, cfg_a)

    # emit A's live state as a fresh snapshot wire log for engine B
    wire = to_envelope_wire(
        state_a.withColumn("_seq", F.col("order_key"))
        .withColumn("order_ts", F.col("order_ts").cast("string"))
    )
    b_events = str(tmp_path / "b_events")
    os.makedirs(b_events, exist_ok=True)
    with open(os.path.join(b_events, "snap.json"), "w") as f:
        for r in wire.collect():
            f.write(_json.dumps({"_seq": r["_seq"], "value": r["value"]}) + "\n")

    cfg_b = CdcLoadConfig(name="rep_b", source_dir=b_events,
                          state_dir=str(tmp_path / "st_b"),
                          checkpoint_dir=str(tmp_path / "ck_b"))
    LoadJobManager(spark).create(cfg_b).awaitTermination(120)
    state_b = read_state(spark, cfg_b)

    a = {r.order_key: (r.status, r.total_price) for r in state_a.collect()}
    b = {r.order_key: (r.status, r.total_price) for r in state_b.collect()}
    assert a == b and set(a) == {1, 3}, f"replicated state differs: {a} vs {b}"
