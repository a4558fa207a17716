"""Long-run soak of the CDC load loop with retention automation on
(VERDICT r03 #5): ~50 micro-batches of mixed insert/update/delete with the
auto tombstone GC enabled, then prove the three bounded-state properties a
PK table must hold under sustained load — the reference's PK-table model
leans on background compaction the same way (docs/ARCHITECTURE.md:120-129).

1. on-disk state stays BOUNDED: per-bucket file counts and tombstone rows do
   not grow with batch count (dynamic partition overwrite + horizon GC);
2. visible latency stays FLAT: the median drain wall of the last drains is
   within noise of the first (no accumulating per-batch cost);
3. the state is RIGHT: audit.py's full-log replay diff is clean, and the
   live rows equal an independent python LWW fold of everything written.
"""

from __future__ import annotations

import glob
import json
import os
import time

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.cdc.schemas import DELETED_COL, SEQ_COL
from mysql_cdc_debezium_starrocks_spark.streaming.audit import audit_state
from mysql_cdc_debezium_starrocks_spark.streaming.materializer import (
    CdcLoadConfig,
    _read_state_raw,
    read_state,
    start_cdc_load,
)

N_DRAINS = 13
FILES_PER_DRAIN = 4  # max_files_per_trigger=1 -> 4 micro-batches per drain
KEYSPACE = 40  # small keyspace so updates/deletes keep landing on live keys


def _event(seq: int, key: int, status: str, deleted: str = "false") -> str:
    payload = {
        "order_key": key,
        "cust_key": key % 7,
        "status": status,
        "total_price": f"{(seq % 900) + 1}.50",
        "__deleted": deleted,
    }
    return json.dumps({"_seq": seq, "value": json.dumps({"payload": payload})})


def _mixed_batch(file_idx: int, seq0: int) -> tuple[list[str], int]:
    """Deterministic mixed workload: 6 inserts/updates + 2 deletes per file,
    cycling the keyspace so every key sees repeated update/delete/reinsert
    churn (the tombstone-resurrection hazard the merge must survive)."""
    lines, seq = [], seq0
    for i in range(6):
        key = (file_idx * 6 + i) % KEYSPACE
        lines.append(_event(seq, key, status=f"s{file_idx % 5}"))
        seq += 1
    for i in range(2):
        key = (file_idx * 2 + i) % KEYSPACE
        lines.append(_event(seq, key, status="del", deleted="true"))
        seq += 1
    return lines, seq


def _write(path: str, fname: str, lines: list[str], mtime: float | None = None) -> None:
    """Write one event file; ``mtime`` pins delivery order — Spark's
    FileStreamSource processes files in mtime order and breaks TIES
    arbitrarily, so distinct mtimes make the ordered soak deterministic and
    inverted mtimes force the adversarial out-of-order delivery."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "." + fname)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    final = os.path.join(path, fname)
    os.rename(tmp, final)
    if mtime is not None:
        os.utime(final, (mtime, mtime))


def _python_lww(files_events: list[dict]) -> dict[int, int]:
    """Independent LWW fold: key -> winning seq for live keys."""
    best: dict[int, tuple[int, bool]] = {}
    for ev in files_events:
        k, s, d = ev["key"], ev["seq"], ev["deleted"]
        if k not in best or s > best[k][0]:
            best[k] = (s, d)
    return {k: s for k, (s, d) in best.items() if not d}


def test_cdc_soak_bounded_state_flat_latency_clean_audit(spark, tmp_path):
    cfg = CdcLoadConfig(
        name="t_soak",
        source_dir=str(tmp_path / "ev"),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        gc_every_batches=3,
        max_files_per_trigger=1,
    )

    seq = 1
    file_idx = 0
    mtime0 = time.time() - 86400  # distinct mtimes = deterministic in-order
    drain_walls: list[float] = []
    state_files: list[int] = []
    tombstone_counts: list[int] = []
    raw_events: list[dict] = []

    for _drain in range(N_DRAINS):
        for _ in range(FILES_PER_DRAIN):
            lines, seq2 = _mixed_batch(file_idx, seq)
            for ln in lines:
                o = json.loads(ln)
                p = json.loads(o["value"])["payload"]
                raw_events.append(
                    {
                        "key": p["order_key"],
                        "seq": o["_seq"],
                        "deleted": p["__deleted"] == "true",
                    }
                )
            _write(cfg.source_dir, f"f{file_idx:04d}.json", lines,
                   mtime=mtime0 + file_idx)
            file_idx += 1
            seq = seq2
        t0 = time.perf_counter()
        start_cdc_load(spark, cfg).awaitTermination(300)
        drain_walls.append(time.perf_counter() - t0)
        state_files.append(
            len(glob.glob(os.path.join(cfg.state_dir, "current", "*", "*.parquet")))
        )
        raw = _read_state_raw(spark, cfg)
        tombstone_counts.append(
            raw.filter(F.col(DELETED_COL) == "true").count()
        )

    n_batches = N_DRAINS * FILES_PER_DRAIN
    assert n_batches >= 50

    # 1. bounded state: file count per drain never exceeds buckets x small
    # constant and does NOT trend with batch count (last <= max of first 3)
    assert max(state_files) <= cfg.buckets * 4
    assert state_files[-1] <= max(state_files[:3]) + cfg.buckets
    # tombstones are swept at the GC cadence: the retained count stays far
    # below the ~2-per-file deletes issued (cumulative ~100), bounded by
    # what the last un-GC'd window can hold
    deletes_issued = sum(1 for e in raw_events if e["deleted"])
    assert deletes_issued >= 80
    assert max(tombstone_counts) <= 6 * FILES_PER_DRAIN * 2
    assert tombstone_counts[-1] <= 3 * FILES_PER_DRAIN * 2

    # 2. flat visible latency: median of last 4 drains within 2.5x of the
    # median of drains 2-5 (drain 1 pays session warm-up; 2.5x is the
    # micro-VM noise envelope, not a perf target — a leak shows as a trend
    # far beyond it)
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    early, late = med(drain_walls[1:5]), med(drain_walls[-4:])
    assert late <= 2.5 * early + 0.5, (early, late, drain_walls)

    # 3. audit clean: incremental state == full-log replay, both directions
    audit = audit_state(spark, cfg)
    assert audit["consistent"], audit
    # and equals an independent python LWW fold of every event written
    live = {
        r["order_key"]: r[SEQ_COL] for r in read_state(spark, cfg).collect()
    }
    assert live == _python_lww(raw_events)


import pytest


@pytest.mark.parametrize("grace", [None, 5])
def test_cdc_soak_out_of_order_delivery_never_resurrects(spark, tmp_path, grace):
    """Adversarial delivery order: within every drain the file mtimes are
    INVERTED, so FileStreamSource processes the highest-seq file FIRST —
    the exact race that resurrected deleted keys under the old max_seq
    sweep horizon (a delete at seq 415 was GC'd while the insert at seq 403
    for the same key was still in flight).  The contiguous watermark must
    hold the tombstones until every lower seq commits, keep the audit
    clean, and STILL sweep once the gaps close (bounded tombstones).

    Parametrized over the aged-gap grace: with ``gc_reorder_grace_batches``
    SET (the gappy-source opt-in), reorder gaps still close within the
    drain (reorder distance <= 3 batches < grace 5), so grace must never
    cross a gap that is a reordered in-flight file rather than a numbering
    hole — the interplay the two features must get right together."""
    cfg = CdcLoadConfig(
        name=f"t_soak_ooo_g{grace}",
        source_dir=str(tmp_path / "ev"),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        gc_every_batches=3,
        max_files_per_trigger=1,
        gc_reorder_grace_batches=grace,
    )

    n_drains = 7
    seq = 1
    file_idx = 0
    mtime0 = time.time() - 86400
    raw_events: list[dict] = []
    tombstone_counts: list[int] = []

    for _drain in range(n_drains):
        group: list[tuple[str, list[str]]] = []
        for _ in range(FILES_PER_DRAIN):
            lines, seq2 = _mixed_batch(file_idx, seq)
            for ln in lines:
                o = json.loads(ln)
                p = json.loads(o["value"])["payload"]
                raw_events.append(
                    {
                        "key": p["order_key"],
                        "seq": o["_seq"],
                        "deleted": p["__deleted"] == "true",
                    }
                )
            group.append((f"f{file_idx:04d}.json", lines))
            file_idx += 1
            seq = seq2
        # inverted mtimes: last-written (highest-seq) file delivered first
        for j, (fname, lines) in enumerate(group):
            _write(cfg.source_dir, fname, lines,
                   mtime=mtime0 + file_idx - 1 - j)
        start_cdc_load(spark, cfg).awaitTermination(300)
        raw = _read_state_raw(spark, cfg)
        tombstone_counts.append(
            raw.filter(F.col(DELETED_COL) == "true").count()
        )

    # the adversarial setup must actually have delivered out of order —
    # otherwise this test silently stops guarding the race it exists for
    batch_files = []
    src_log = os.path.join(cfg.checkpoint_dir, "sources", "0")
    for b in sorted((x for x in os.listdir(src_log) if x.isdigit()), key=int):
        with open(os.path.join(src_log, b)) as f:
            for ln in f:
                if ln.startswith("{"):
                    batch_files.append(os.path.basename(json.loads(ln)["path"]))
    assert batch_files != sorted(batch_files), (
        "delivery was in seq order; adversarial mtimes had no effect"
    )

    # deletes landed and the sweep still bounds retained tombstones: the
    # per-drain gaps close at the drain boundary, so the next GC (cadence 3
    # batches = less than one drain) sweeps everything below the last drain
    deletes_issued = sum(1 for e in raw_events if e["deleted"])
    assert deletes_issued >= 40
    assert tombstone_counts[-1] <= 3 * FILES_PER_DRAIN * 2

    # correctness under reorder: incremental state == full-log replay ==
    # python LWW fold (no resurrected keys, no lost deletes)
    audit = audit_state(spark, cfg)
    assert audit["consistent"], audit
    live = {
        r["order_key"]: r[SEQ_COL] for r in read_state(spark, cfg).collect()
    }
    assert live == _python_lww(raw_events)
