"""Retention hooks (VERDICT r02 next #8): long-running loads must keep
bounded on-disk state — tombstones swept at a committed-batch horizon,
contribution dirs folded into committed baselines — with crash-mid-compaction
staying safe.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.cdc.schemas import DELETED_COL
from mysql_cdc_debezium_starrocks_spark.streaming.materializer import (
    CdcLoadConfig,
    _read_state_raw,
    read_state,
    start_cdc_load,
)


def _event(seq: int, key: int, status: str = "new", deleted: str = "false") -> str:
    payload = {
        "order_key": key,
        "cust_key": key,
        "status": status,
        "total_price": "10.00",
        "__deleted": deleted,
    }
    return json.dumps({"_seq": seq, "value": json.dumps({"payload": payload})})


def _write(path: str, fname: str, lines: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "." + fname)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(path, fname))


def _tombstones(spark, cfg) -> int:
    raw = _read_state_raw(spark, cfg)
    return raw.filter(F.col(DELETED_COL) == "true").count()


def test_cdc_auto_gc_sweeps_committed_tombstones(spark, tmp_path):
    """gc_every_batches: the load loop itself sweeps tombstones once their
    sequence horizon is durably committed — and never the tombstones a
    replayable batch could still race."""
    cfg = CdcLoadConfig(
        name="t_gc",
        source_dir=str(tmp_path / "ev"),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        gc_every_batches=1,
        max_files_per_trigger=1,  # one file per micro-batch
    )

    def run_drain():
        start_cdc_load(spark, cfg).awaitTermination(120)

    _write(cfg.source_dir, "b0.json", [_event(i, i) for i in range(1, 6)])
    run_drain()
    _write(cfg.source_dir, "b1.json",
           [_event(6, 1, deleted="true"), _event(7, 2, deleted="true")])
    run_drain()
    # tombstones exist but their batch was the NEWEST — not yet swept
    # (the horizon recorded under batch_id < current is required)
    assert _tombstones(spark, cfg) == 2
    _write(cfg.source_dir, "b2.json", [_event(8, 3, status="upd")])
    run_drain()
    # batch 1's span ([6,7], contiguous with [1,5]) is now committed ->
    # the watermark covers the tombstone seqs -> sweep happened
    assert _tombstones(spark, cfg) == 0
    live = sorted(r.order_key for r in read_state(spark, cfg).collect())
    assert live == [3, 4, 5]


def test_cdc_gc_numbering_gap_pins_watermark_until_grace(spark, tmp_path):
    """A sequence-numbering gap (gappy sources: binlog positions, Kafka
    offsets under transactions) must PIN the sweep watermark under the
    default config — a gap is indistinguishable from an undelivered
    reordered batch — and cross only under the opt-in aged-gap grace."""
    def mk(grace):
        name = f"t_gap_g{grace}"
        cfg = CdcLoadConfig(
            name=name,
            source_dir=str(tmp_path / name / "ev"),
            state_dir=str(tmp_path / name / "state"),
            checkpoint_dir=str(tmp_path / name / "ckpt"),
            gc_every_batches=1,
            max_files_per_trigger=1,
            gc_reorder_grace_batches=grace,
        )
        return cfg

    for grace, swept_by_end in ((None, False), (1, True)):
        cfg = mk(grace)
        _write(cfg.source_dir, "b0.json", [_event(i, i) for i in range(1, 6)])
        start_cdc_load(spark, cfg).awaitTermination(120)
        # seqs jump 5 -> 20: a numbering hole at [6, 19]
        _write(cfg.source_dir, "b1.json",
               [_event(20, 1, deleted="true"), _event(21, 2, deleted="true")])
        start_cdc_load(spark, cfg).awaitTermination(120)
        assert _tombstones(spark, cfg) == 2
        for extra in range(3):  # keep committing batches above the gap
            _write(cfg.source_dir, f"b{2 + extra}.json",
                   [_event(22 + extra, 3, status=f"u{extra}")])
            start_cdc_load(spark, cfg).awaitTermination(120)
        if swept_by_end:
            # gap aged past grace -> treated as numbering hole -> swept
            assert _tombstones(spark, cfg) == 0
        else:
            # default: the gap could be an in-flight reordered batch with
            # lower seqs -> the tombstones above it are retained forever
            assert _tombstones(spark, cfg) == 2
        live = sorted(r.order_key for r in read_state(spark, cfg).collect())
        assert live == [3, 4, 5]


def test_cdc_gc_all_dead_letter_batch_does_not_pin_watermark(spark, tmp_path):
    """A micro-batch whose every event is malformed (quarantined) still
    folds its sequence span into the watermark ledger: quarantined events
    can never merge into state later, so pinning GC on their gap would
    silently disable retention after one bad producer burst."""
    cfg = CdcLoadConfig(
        name="t_gc_dl",
        source_dir=str(tmp_path / "ev"),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        gc_every_batches=1,
        max_files_per_trigger=1,
    )

    def bad(seq: int) -> str:
        # parseable JSON wire row whose payload lacks the key column
        payload = {"status": "junk", "__deleted": "false"}
        return json.dumps(
            {"_seq": seq, "value": json.dumps({"payload": payload})}
        )

    _write(cfg.source_dir, "b0.json", [_event(i, i) for i in range(1, 6)])
    start_cdc_load(spark, cfg).awaitTermination(120)
    _write(cfg.source_dir, "b1.json",
           [_event(6, 1, deleted="true"), _event(7, 2, deleted="true")])
    start_cdc_load(spark, cfg).awaitTermination(120)
    # batch 2: ALL dead-letter, carrying seqs 8-9 — must fold [8,9]
    _write(cfg.source_dir, "b2.json", [bad(8), bad(9)])
    start_cdc_load(spark, cfg).awaitTermination(120)
    # batch 3: the sweep at the (prior-committed) watermark 9 covers the
    # tombstones at 6/7 — they go; quarantine dir holds the bad rows
    _write(cfg.source_dir, "b3.json", [_event(10, 3, status="upd")])
    start_cdc_load(spark, cfg).awaitTermination(120)
    assert _tombstones(spark, cfg) == 0
    live = sorted(r.order_key for r in read_state(spark, cfg).collect())
    assert live == [3, 4, 5]
    dl = spark.read.parquet(os.path.join(cfg.state_dir, "_dead_letter", "batch=2"))
    assert dl.count() == 2


def test_gc_interval_fold_and_watermark_unit():
    """Pure-python ledger semantics: interval folding is order-insensitive
    and idempotent; the watermark stops at the first young gap and crosses
    only aged gaps under grace."""
    from mysql_cdc_debezium_starrocks_spark.streaming.materializer import (
        _fold_interval,
        _safe_sweep_horizon,
    )

    # out-of-order fold closes the gap exactly when the missing span lands
    iv = _fold_interval([], 409, 416)
    iv = _fold_interval(iv, 1, 400)
    assert iv == [[1, 400], [409, 416]]
    iv2 = _fold_interval(iv, 401, 408)
    assert iv2 == [[1, 416]]
    # idempotent on replayed spans; overlap absorbs
    assert _fold_interval(iv2, 401, 408) == [[1, 416]]
    assert _fold_interval(iv2, 300, 500) == [[1, 500]]

    led = {"intervals": iv, "gap_seen": {"401": 7}}
    # default (grace None): watermark pinned below the gap
    assert _safe_sweep_horizon(led, 50, None) == 400
    # young gap (age 2 < grace 5): still pinned
    assert _safe_sweep_horizon(led, 9, 5) == 400
    # aged gap: crossed — treated as a numbering hole
    assert _safe_sweep_horizon(led, 12, 5) == 416
    # closed gap needs no grace at all
    assert _safe_sweep_horizon({"intervals": iv2, "gap_seen": {}}, 8, None) == 416


def test_gc_interval_fold_property_random_delivery_orders():
    """Property lock for the watermark ledger: for ANY delivery order of
    any batch spans (including replays = duplicates), the folded intervals
    equal the set-union reference, and the default watermark never exceeds
    the largest S with {min..S} fully covered — i.e. no delivery order can
    unpin a sweep past an undelivered sequence."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_cdc_debezium_starrocks_spark.streaming.materializer import (
        _fold_interval,
        _safe_sweep_horizon,
    )

    span = st.tuples(
        st.integers(min_value=0, max_value=120),
        st.integers(min_value=0, max_value=20),
    ).map(lambda t: (t[0], t[0] + t[1]))

    @settings(max_examples=200, deadline=None)
    @given(st.lists(span, min_size=1, max_size=12))
    def check(spans):
        iv = []
        covered: set[int] = set()
        for mn, mx in spans:
            iv = _fold_interval(iv, mn, mx)
            covered |= set(range(mn, mx + 1))
        # intervals == the set-union reference, sorted and disjoint
        from_iv = set()
        for a, b in iv:
            assert a <= b
            from_iv |= set(range(a, b + 1))
        assert from_iv == covered
        for (a1, b1), (a2, b2) in zip(iv, iv[1:]):
            assert b1 + 1 < a2  # disjoint AND non-adjacent (fully merged)
        # default watermark = top of the contiguous prefix from the min
        wm = _safe_sweep_horizon({"intervals": iv, "gap_seen": {}}, 99, None)
        lo = min(covered)
        expect = lo
        while expect + 1 in covered:
            expect += 1
        assert wm == expect

    check()


def test_agg_mv_auto_compaction_bounds_dirs(spark, tmp_path):
    """compact_every in the agg-MV load loop: dirs stay bounded and the
    view equals the one-shot aggregate over everything ingested."""
    from mysql_cdc_debezium_starrocks_spark.streaming._state import (
        _BASELINE,
        numbered_ids,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import (
        _CONTRIB,
        read_agg_mv,
        start_agg_mv_load,
    )

    src_dir = str(tmp_path / "src")
    state = str(tmp_path / "mv")
    spec = {"n": ("count", None), "total": ("sum", "x")}
    os.makedirs(src_dir)
    for b in range(6):
        with open(os.path.join(src_dir, f"f{b}.json"), "w") as f:
            for i in range(10):
                f.write(json.dumps({"g": f"g{i % 2}", "x": b * 10 + i}) + "\n")
    source = (
        spark.readStream.schema("g STRING, x LONG")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    q = start_agg_mv_load(
        spark, source, state, str(tmp_path / "ck"), ["g"], spec,
        compact_every=2, keep_last=1,
    )
    q.awaitTermination(120)
    contrib_root = os.path.join(state, _CONTRIB)
    contrib = numbered_ids(contrib_root)
    assert len(contrib) <= 3  # bounded, not one per batch (6 ingested)
    baselines = numbered_ids(os.path.join(contrib_root, _BASELINE), prefix="v")
    assert len(baselines) == 1  # old baselines GC'd
    out = {r.g: (r.n, r.total) for r in
           read_agg_mv(spark, state, ["g"], spec).collect()}
    # 6 batches x 10 rows; per group 30 rows; totals exact
    all_x = [b * 10 + i for b in range(6) for i in range(10)]
    assert out["g0"] == (30, sum(x for x in all_x if x % 2 == 0))
    assert out["g1"] == (30, sum(x for x in all_x if x % 2 == 1))


def test_theta_auto_compaction_preserves_sketch(spark, tmp_path):
    """compact_theta folds contributions into a k-row baseline whose merged
    sketch is IDENTICAL to the uncompacted merge (KMV union is exact over
    hash-level distinct)."""
    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import _CONTRIB
    from mysql_cdc_debezium_starrocks_spark.streaming.theta_stats import (
        compact_theta,
        read_theta,
        update_theta_batch,
    )

    state_a = str(tmp_path / "a")  # compacted
    state_b = str(tmp_path / "b")  # control, never compacted
    for b in range(5):
        batch = spark.range(b * 200, b * 200 + 300).select(
            F.col("id").cast("string").alias("k")
        )
        update_theta_batch(spark, state_a, batch, "k", b, k=64)
        update_theta_batch(spark, state_b, batch, "k", b, k=64)
    compact_theta(spark, state_a, keep_last=2)
    dirs = [d for d in os.listdir(os.path.join(state_a, _CONTRIB))
            if d.startswith("batch=")]
    assert len(dirs) == 2  # 3 of 5 folded
    ha = sorted(r.h for r in read_theta(spark, state_a).collect())
    hb = sorted(r.h for r in read_theta(spark, state_b).collect())
    assert ha == hb and len(ha) == 64


def test_theta_crash_mid_compaction_is_invisible(spark, tmp_path):
    """A baseline dir without the _COMMITTED marker (crash between data
    write and commit) is ignored by readers and safely superseded by the
    next compaction run."""
    from mysql_cdc_debezium_starrocks_spark.streaming._state import (
        _BASELINE,
        _COMMITTED,
        _FOLDED,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import _CONTRIB
    from mysql_cdc_debezium_starrocks_spark.streaming.theta_stats import (
        compact_theta,
        read_theta,
        update_theta_batch,
    )

    state = str(tmp_path / "t")
    for b in range(4):
        batch = spark.range(b * 100, b * 100 + 150).select(
            F.col("id").cast("string").alias("k")
        )
        update_theta_batch(spark, state, batch, "k", b, k=32)
    before = sorted(r.h for r in read_theta(spark, state).collect())

    # simulate the crash: a full baseline WITHOUT its commit marker
    crash_dir = os.path.join(state, _CONTRIB, _BASELINE, "v=0")
    os.makedirs(os.path.join(crash_dir, "data"))
    spark.range(1).select(
        F.array(F.lit(123).cast("long")).alias("h__kmv")
    ).write.mode(
        "overwrite"
    ).parquet(os.path.join(crash_dir, "data"))
    with open(os.path.join(crash_dir, _FOLDED), "w") as f:
        json.dump([0, 1], f)
    # no _COMMITTED marker -> reader must ignore it entirely
    assert sorted(r.h for r in read_theta(spark, state).collect()) == before
    # control: the same dir WITH its marker is trusted, so the simulated
    # crash sits exactly where a real fold writes its baseline
    control = str(tmp_path / "control")
    shutil.copytree(state, control)
    open(os.path.join(control, _CONTRIB, _BASELINE, "v=0", _COMMITTED), "w").close()
    assert sorted(r.h for r in read_theta(spark, control).collect()) != before

    compact_theta(spark, state, keep_last=1)
    after = sorted(r.h for r in read_theta(spark, state).collect())
    assert after == before  # recovery re-folded from intact contributions


def test_theta_refuses_recycled_batch_id(spark, tmp_path):
    """A batch id already folded into the committed baseline must be
    REFUSED on write: read_theta skips folded ids (crash-mid-compaction
    safety), so accepting the write would silently lose the batch."""
    import pytest

    from mysql_cdc_debezium_starrocks_spark.streaming.theta_stats import (
        compact_theta,
        read_theta,
        update_theta_batch,
    )

    state = str(tmp_path / "t")
    for b in range(4):
        batch = spark.range(b * 100, b * 100 + 150).select(
            F.col("id").cast("string").alias("k")
        )
        update_theta_batch(spark, state, batch, "k", b, k=32)
    compact_theta(spark, state, keep_last=2)  # folds batches 0 and 1

    fresh = spark.range(9000, 9100).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(RuntimeError, match="already.*folded|folded.*already"):
        update_theta_batch(spark, state, fresh, "k", 0, k=32)
    # non-recycled ids still write, and the sketch stays readable
    update_theta_batch(spark, state, fresh, "k", 4, k=32)
    assert read_theta(spark, state).count() > 0


def test_gc_ledger_stats_gap_age_and_clear(tmp_path):
    """Monitoring surface for the interval ledger (VERDICT r05 #4): a
    forced delivery gap shows up with its age in committed batches and
    clears the moment the gap fills — the evidence an operator needs to
    choose gc_reorder_grace_batches."""
    from mysql_cdc_debezium_starrocks_spark.streaming.materializer import (
        _write_gc_horizon,
        gc_ledger_stats,
    )

    cfg = CdcLoadConfig(
        name="led",
        source_dir=str(tmp_path / "src"),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    assert gc_ledger_stats(cfg) is None  # no committed batch yet

    _write_gc_horizon(cfg, batch_id=0, min_seq=0, max_seq=5)
    s = gc_ledger_stats(cfg)
    assert s == {
        "batch_id": 0, "n_intervals": 1, "n_gaps": 0,
        "oldest_gap_age_batches": None, "contiguous_horizon": 5,
    }

    # batch 1 delivers out of order: gap [6..9] opens, age 0
    _write_gc_horizon(cfg, batch_id=1, min_seq=10, max_seq=12)
    s = gc_ledger_stats(cfg)
    assert s["n_gaps"] == 1 and s["oldest_gap_age_batches"] == 0
    assert s["contiguous_horizon"] == 5  # sweep stays pinned below the gap

    # batch 4 opens a second gap; the FIRST gap has now aged 3 batches
    _write_gc_horizon(cfg, batch_id=4, min_seq=20, max_seq=22)
    s = gc_ledger_stats(cfg)
    assert s["n_intervals"] == 3 and s["n_gaps"] == 2
    assert s["oldest_gap_age_batches"] == 3

    # the reordered file finally lands: first gap fills, horizon advances
    _write_gc_horizon(cfg, batch_id=5, min_seq=6, max_seq=9)
    s = gc_ledger_stats(cfg)
    assert s["n_gaps"] == 1 and s["contiguous_horizon"] == 12
    assert s["oldest_gap_age_batches"] == 1  # the younger gap remains

    # everything contiguous again: gap count and age clear
    _write_gc_horizon(cfg, batch_id=6, min_seq=13, max_seq=19)
    s = gc_ledger_stats(cfg)
    assert s == {
        "batch_id": 6, "n_intervals": 1, "n_gaps": 0,
        "oldest_gap_age_batches": None, "contiguous_horizon": 22,
    }
