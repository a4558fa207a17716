"""Schema-drift detection: undeclared wire fields surface in the drift log.

The reference's fixed column mapping silently drops new upstream columns
until an operator intervenes (reference README.md:326,
create-routine-load.sh:16,21); the engine instead reports them with
sequence provenance while the load keeps running.
"""

from __future__ import annotations

import json

from mysql_cdc_debezium_starrocks_spark.cdc.schemas import ORDER_EVENT_ENVELOPE
from mysql_cdc_debezium_starrocks_spark.streaming import CdcLoadConfig, read_state
from mysql_cdc_debezium_starrocks_spark.streaming.materializer import merge_batch
from mysql_cdc_debezium_starrocks_spark.streaming.schema_drift import (
    detect_schema_drift,
    read_drift_log,
)


def _wire(spark, events):
    rows = [
        (e["_seq"], json.dumps({k: v for k, v in e.items() if k != "_seq"}))
        for e in events
    ]
    return spark.createDataFrame(rows, "`_seq` LONG, value STRING")


def _ev(seq, key, **extra):
    return {
        "_seq": seq, "order_key": key, "cust_key": 1, "status": "ok",
        "total_price": "5.00", "priority": "P1", "__deleted": "false", **extra,
    }


def test_detect_both_envelope_shapes(spark):
    bare = _ev(1, 1, discount_pct="12.5")
    wrapped = {"_seq": 2, "payload": _ev(2, 2, discount_pct="7.0", region="EU")}
    wrapped["payload"].pop("_seq")
    clean = _ev(3, 3)
    batch = _wire(spark, [bare, clean]).unionByName(
        spark.createDataFrame(
            [(2, json.dumps({"payload": wrapped["payload"]}))],
            "`_seq` LONG, value STRING",
        )
    )
    drift = {r["field"]: r for r in
             detect_schema_drift(batch, ORDER_EVENT_ENVELOPE).collect()}
    assert set(drift) == {"discount_pct", "region"}
    assert drift["discount_pct"]["n_events"] == 2
    assert drift["discount_pct"]["first_seq"] == 1
    assert drift["discount_pct"]["last_seq"] == 2
    assert drift["region"]["sample_value"] == "EU"


def test_clean_batch_reports_nothing(spark):
    batch = _wire(spark, [_ev(1, 1), _ev(2, 2)])
    assert detect_schema_drift(batch, ORDER_EVENT_ENVELOPE).count() == 0


def test_materializer_records_drift_and_keeps_loading(spark, tmp_path):
    cfg = CdcLoadConfig(
        name="drift",
        source_dir=str(tmp_path / "ev"),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        drift_dir=str(tmp_path / "drift"),
    )
    drifting = [_ev(1, 1), _ev(2, 2, new_col="x")]
    merge_batch(spark, cfg, _wire(spark, drifting), batch_id=4)
    merge_batch(spark, cfg, _wire(spark, drifting), batch_id=4)  # replay
    merge_batch(spark, cfg, _wire(spark, [_ev(3, 3)]))  # clean: no append

    # the load itself is unaffected — all three rows materialized
    assert read_state(spark, cfg).count() == 3
    log = read_drift_log(spark, str(tmp_path / "drift")).collect()
    # the finding carries the micro-batch that delivered it, logged once
    # however often that batch replays
    assert [(r["field"], r["n_events"], r["batch_id"]) for r in log] == [
        ("new_col", 1, 4)
    ]
