"""CDC event model + keyed upsert materialization.

Replaces the reference's MySQL-binlog -> Debezium -> Kafka -> StarRocks
Primary-Key-table path (reference: debezium-connector.json:3-25,
create-starrocks-tables.sh:17-44, docs/ARCHITECTURE.md:83-129) with:

- :mod:`.schemas`   — the wire contract: column names, ingest schema and
                      envelope StructTypes (both envelope shapes).
- :mod:`.generator` — deterministic synthetic CDC event logs derived from the
                      fixture tables (replaces continuous-ingest.sh data gen).
- :mod:`.apply`     — envelope parse/unwrap + last-write-wins keyed apply with
                      correct delete handling (the reference's committed config
                      silently drops deletes — SURVEY.md §2.10 T5; we fix it).
"""

from .apply import apply_cdc_log, parse_envelope, latest_by_key
from .generator import synth_order_events_raw, synth_order_events_json
