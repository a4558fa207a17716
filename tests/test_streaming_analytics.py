"""Streaming analytics operators: watermarked windows, session windows,
within-watermark dedup, and the applyInPandasWithState running counters.

Each test drives a file-source stream (one file == one micro-batch, mtimes
pinned so batch order is deterministic) through ``availableNow`` into a
memory sink, so emission/late-drop semantics are asserted end-to-end, not
just plan-checked.  Spark runs a trailing no-data micro-batch, so windows
closed by the final watermark do emit.
"""

from __future__ import annotations

import json
import os

from mysql_cdc_debezium_starrocks_spark.streaming.analytics import (
    dedup_within_watermark,
    running_user_stats,
    sessionize,
    windowed_counts,
)

SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"


def _write_batches(root, batches):
    """One JSON-lines file per micro-batch, mtime-ordered."""
    os.makedirs(root, exist_ok=True)
    for i, rows in enumerate(batches):
        p = os.path.join(root, f"b{i}.json")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        t = 1_700_000_000 + i * 10
        os.utime(p, (t, t))


def _ev(eid, ts, user=1, etype="click", value=1.0):
    return {"event_id": eid, "ts": ts, "user_id": user, "event_type": etype, "value": value}


def _run(spark, src, transform, mode, name):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_windowed_counts_drops_late_rows(spark, tmp_path):
    """A row older than the watermark is dropped; closed windows emit once
    in append mode."""
    src = str(tmp_path / "ev")
    _write_batches(
        src,
        [
            # batch 0: window [10:00,11:00) gets 2 rows; max ts 11:20 will put
            # the watermark at 11:10, past [10,11)'s end
            [_ev(1, "2024-01-01 10:05:00"), _ev(2, "2024-01-01 10:10:00"),
             _ev(3, "2024-01-01 11:20:00")],
            # spacer batch: watermark application lags the batch that advanced
            # it, so give the 11:10 watermark one batch to take effect
            [_ev(9, "2024-01-01 11:25:00")],
            # batch 2: the 10:20 row's window end (11:00) <= watermark -> dropped;
            # 12:30 advances the watermark past both earlier windows
            [_ev(4, "2024-01-01 10:20:00"), _ev(5, "2024-01-01 12:30:00")],
        ],
    )
    out = _run(
        spark, src, lambda s: windowed_counts(s, "10 minutes", "1 hour"), "append", "t_win"
    )
    got = {(r.window_start.hour, r.n) for r in out.collect()}
    assert (10, 2) in got, "late 10:20 row must NOT be counted into [10,11)"
    assert (11, 2) in got
    assert all(h != 12 for h, _ in got), "[12,13) never closes (watermark 12:20)"


def test_dedup_within_watermark(spark, tmp_path):
    """A duplicate key arriving within the horizon is suppressed across
    micro-batches."""
    src = str(tmp_path / "ev")
    _write_batches(
        src,
        [
            [_ev(1, "2024-01-01 10:00:00"), _ev(2, "2024-01-01 10:01:00")],
            [_ev(1, "2024-01-01 10:02:00"), _ev(3, "2024-01-01 10:03:00")],
        ],
    )
    out = _run(
        spark, src, lambda s: dedup_within_watermark(s, "1 hour"), "append", "t_dedup"
    )
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [1, 2, 3], f"duplicate event_id 1 must appear once, got {ids}"


def test_sessionize_gap_windows(spark, tmp_path):
    """Two sessions for one user split by a > gap quiet period; sessions
    close once the watermark passes their end."""
    src = str(tmp_path / "ev")
    _write_batches(
        src,
        [
            [_ev(1, "2024-01-01 10:00:00"), _ev(2, "2024-01-01 10:10:00"),
             _ev(3, "2024-01-01 12:00:00")],
            # far-future row pushes the watermark past both sessions' ends
            [_ev(4, "2024-01-01 20:00:00", user=2)],
        ],
    )
    out = _run(
        spark,
        src,
        lambda s: sessionize(s, gap="30 minutes", watermark="10 minutes"),
        "append",
        "t_sess",
    )
    rows = {(r.user_id, r.session_start.hour, r.n_events) for r in out.collect()}
    assert (1, 10, 2) in rows, "10:00+10:10 must merge into one session"
    assert (1, 12, 1) in rows, "12:00 must start a new session (gap 30m)"
    assert all(u != 2 for u, _, _ in rows), "user 2's open session must not emit"


def test_running_user_stats_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-user state between micro-batches."""
    src = str(tmp_path / "ev")
    _write_batches(
        src,
        [
            [_ev(1, "2024-01-01 10:00:00", user=1, value=2.0),
             _ev(2, "2024-01-01 10:01:00", user=1, value=3.0),
             _ev(3, "2024-01-01 10:02:00", user=2, value=5.0)],
            [_ev(4, "2024-01-01 10:03:00", user=1, value=4.0)],
        ],
    )
    out = _run(spark, src, running_user_stats, "update", "t_stats")
    # update mode appends one refreshed row per touched user per batch;
    # the final state per user is the row with the max n_events
    final = {}
    for r in out.collect():
        if r.user_id not in final or r.n_events > final[r.user_id].n_events:
            final[r.user_id] = r
    assert final[1].n_events == 3 and final[1].total_value == 9.0
    assert final[2].n_events == 1 and final[2].total_value == 5.0
    assert final[1].last_ts.minute == 3, "last_ts must track the newest event"


def test_windowed_counts_on_fixture_events(spark, tmp_path):
    """Integration: the real events fixture streamed through the watermarked
    window operator; every emitted (window, type) must equal the batch
    aggregation, and all provably-closed windows must have emitted."""
    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from .conftest import SF_SMOKE

    events = load(spark, SF_SMOKE, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    src = str(tmp_path / "ev_json")
    events.coalesce(4).write.mode("overwrite").json(src)

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    q = (
        windowed_counts(stream, "10 minutes", "1 hour")
        .writeStream.format("memory")
        .queryName("t_fix_win")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.table("t_fix_win").collect()
    }

    batch = {
        (r.w, r.event_type): r.n
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got, "at least some windows must close and emit"
    for key, n in got.items():
        assert batch[key] == n, f"streamed window {key} != batch"


def test_interval_join_attribution(spark, tmp_path):
    """Stream-stream interval join: a purchase joins every click by the same
    user in the preceding hour; clicks outside the horizon or other users
    never match."""
    from mysql_cdc_debezium_starrocks_spark.streaming.analytics import (
        interval_join_attribution,
    )

    src = str(tmp_path / "attr")
    _write_batches(
        src,
        [
            [
                _ev(1, "2024-01-01 10:00:00", user=1, etype="click"),
                _ev(2, "2024-01-01 10:20:00", user=1, etype="click"),
                _ev(3, "2024-01-01 10:05:00", user=2, etype="click"),
            ],
            [
                # joins clicks 1 and 2 (both within the preceding hour)
                _ev(10, "2024-01-01 10:30:00", user=1, etype="purchase", value=9.0),
                # user 3 purchase with no click: no output row
                _ev(11, "2024-01-01 10:31:00", user=3, etype="purchase", value=1.0),
            ],
            [
                # 12:00 purchase is > 1h after both user-1 clicks: no match
                _ev(12, "2024-01-01 12:00:00", user=1, etype="purchase", value=2.0),
                # advance both watermarks well past everything
                _ev(13, "2024-01-01 15:00:00", user=9, etype="click"),
                _ev(14, "2024-01-01 15:00:00", user=9, etype="purchase", value=0.5),
            ],
        ],
    )
    out = _run(
        spark, src, interval_join_attribution, "append", "t_attr"
    )
    got = {(r.purchase_id, r.click_id) for r in out.collect()}
    assert (10, 1) in got and (10, 2) in got, "in-horizon clicks must join"
    assert all(p != 11 for p, _ in got), "user without clicks must not join"
    assert all(p != 12 for p, _ in got), "click outside horizon must not join"
    assert (14, 13) in got, "same-timestamp click joins (inclusive bound)"


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static left join enriches events with a batch dimension and
    flags keys the dim doesn't know yet."""
    import json as _json

    from mysql_cdc_debezium_starrocks_spark.streaming.analytics import (
        enrich_with_dimension,
    )

    src = str(tmp_path / "ev")
    os.makedirs(src, exist_ok=True)
    rows = [
        {"event_id": 1, "user_id": 10, "value": 5.0},
        {"event_id": 2, "user_id": 11, "value": 7.0},
        {"event_id": 3, "user_id": 99, "value": 1.0},  # unknown user
    ]
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    schema = "event_id long, user_id long, value double"
    stream = spark.readStream.schema(schema).json(src)
    dim = spark.createDataFrame(
        [(10, "gold"), (11, "silver")], "user_id long, tier string"
    )
    out = enrich_with_dimension(stream, dim)
    q = (
        out.writeStream.format("memory")
        .queryName("enriched_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {r["event_id"]: r for r in spark.sql("select * from enriched_t").collect()}
    assert got[1]["tier"] == "gold" and got[1]["dim_matched"]
    assert got[2]["tier"] == "silver"
    assert got[3]["tier"] is None and not got[3]["dim_matched"]


def test_incremental_rollup_matches_batch(spark, tmp_path):
    """The foreachBatch-maintained minute-partial table, fed the fixture
    events over several micro-batches, must re-aggregate to EXACTLY the
    daily stats computed directly from the raw events in one batch pass —
    incremental view maintenance is lossless and idempotent."""
    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.streaming.rollup import (
        daily_view,
        read_rollup,
        start_incremental_rollup,
    )

    from .conftest import SF_SMOKE

    events = load(spark, SF_SMOKE, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    src = str(tmp_path / "ev_json")
    events.coalesce(4).write.mode("overwrite").json(src)

    state = str(tmp_path / "rollup_state")
    ckpt = str(tmp_path / "rollup_ckpt")
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    q = start_incremental_rollup(spark, stream, state, ckpt)
    q.awaitTermination(300)

    partials = read_rollup(spark, state)
    assert partials is not None, "state table must exist after the run"
    got = {
        (str(r.day), r.event_type): (r.n_events, r.sum_value, r.min_value,
                                     r.max_value, r.avg_value)
        for r in daily_view(partials).collect()
    }

    v = F.col("value").cast("decimal(18,2)")
    direct = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(v).alias("sum_value"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
    )
    direct = direct.withColumn(
        "avg_value",
        F.round(F.col("sum_value").cast("double") / F.col("n_events"), 4).cast(
            "decimal(18,4)"
        ),
    )
    want = {
        (str(r.day), r.event_type): (r.n_events, r.sum_value, r.min_value,
                                     r.max_value, r.avg_value)
        for r in direct.collect()
    }
    assert got == want


def test_rollup_state_compacts_per_partition(spark, tmp_path):
    """Maintenance composition: the streaming-maintained rollup state can be
    compacted partition-by-partition (files drop, values identical) — the
    OPTIMIZE pass a long-running continuous aggregate needs."""
    import os

    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.storage import compact_files
    from mysql_cdc_debezium_starrocks_spark.streaming.rollup import (
        daily_view,
        read_rollup,
        start_incremental_rollup,
    )

    from .conftest import SF_SMOKE

    events = load(spark, SF_SMOKE, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    src = str(tmp_path / "ev_json")
    events.coalesce(4).write.mode("overwrite").json(src)
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    q = start_incremental_rollup(spark, stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    before = sorted(
        map(tuple, daily_view(read_rollup(spark, state)).collect())
    )
    from mysql_cdc_debezium_starrocks_spark.streaming._state import (
        _BASELINE,
        numbered_ids,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import _CONTRIB
    from mysql_cdc_debezium_starrocks_spark.streaming.rollup import (
        compact_rollup,
        merge_rollup_batch,
    )

    contrib_root = os.path.join(state, _CONTRIB)
    assert numbered_ids(contrib_root), "per-batch contribution dirs must exist"

    # design property: contribution dirs accrete one-per-batch (append-only
    # crash-safe hot path); compact_rollup folds them into a committed
    # baseline, bounding live dirs at keep_last + baseline
    next_id = 1 + max(numbered_ids(contrib_root))
    extra = events.limit(50)
    merge_rollup_batch(spark, state, extra, batch_id=next_id)
    merge_rollup_batch(spark, state, extra, batch_id=next_id + 1)
    before = sorted(map(tuple, daily_view(read_rollup(spark, state)).collect()))
    assert len(numbered_ids(contrib_root)) >= 3

    compact_rollup(spark, state, keep_last=1)
    live = numbered_ids(contrib_root)
    assert len(live) == 1, f"folded batches must be GC'd, left: {live}"
    folded = sorted(map(tuple, daily_view(read_rollup(spark, state)).collect()))
    assert folded == before, "compaction must not change any value"

    # baseline data dir is a plain leaf parquet dir -> compact_files applies
    base_root = os.path.join(contrib_root, _BASELINE)
    (ver,) = os.listdir(base_root)
    frag = os.path.join(base_root, ver, "data")

    def files_in(d):
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    part = spark.read.parquet(frag).cache()
    part.count()
    part.repartition(8).write.mode("overwrite").parquet(frag)
    part.unpersist()
    assert len(files_in(frag)) == 8
    n_before, n_after = compact_files(spark, frag, target_file_bytes=1 << 30)
    assert (n_before, n_after) == (8, 1)
    after = sorted(map(tuple, daily_view(read_rollup(spark, state)).collect()))
    assert after == before


def test_rollup_replay_is_idempotent(spark, tmp_path):
    """Crash-replay safety: re-merging the SAME micro-batch (same batch_id)
    must leave the state unchanged — a naive additive merge would
    double-count it.  A different batch_id with the same rows must add."""
    import os

    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.streaming._state import (
        committed_fold,
        numbered_ids,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import _CONTRIB
    from mysql_cdc_debezium_starrocks_spark.streaming.rollup import (
        compact_rollup,
        daily_view,
        merge_rollup_batch,
        read_rollup,
    )

    rows = [
        (1, "2024-01-01 10:00:30", 1, "click", 2.0),
        (2, "2024-01-01 10:00:45", 1, "click", 4.0),
        (3, "2024-01-01 11:30:00", 2, "buy", 10.0),
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    state = str(tmp_path / "st")
    merge_rollup_batch(spark, state, batch, batch_id=0)
    once = sorted(map(tuple, daily_view(read_rollup(spark, state)).collect()))

    merge_rollup_batch(spark, state, batch, batch_id=0)  # replay
    replay = sorted(map(tuple, daily_view(read_rollup(spark, state)).collect()))
    assert replay == once, "same batch_id must overwrite, not add"

    merge_rollup_batch(spark, state, batch, batch_id=1)  # genuinely new batch
    twice = {
        (str(r[0]), r[1]): r[2]
        for r in daily_view(read_rollup(spark, state)).collect()
    }
    assert twice[("2024-01-01", "click")] == 4  # 2 events x 2 batches

    # compaction folds old batches into the baseline without changing values
    merge_rollup_batch(spark, state, batch, batch_id=2)
    before = sorted(map(tuple, daily_view(read_rollup(spark, state)).collect()))
    compact_rollup(spark, state, keep_last=1)
    cur = read_rollup(spark, state)
    assert sorted(map(tuple, daily_view(cur).collect())) == before
    root = os.path.join(state, _CONTRIB)
    ids = numbered_ids(root)
    assert ids == [2], f"only the newest batch stays live, got {ids}"
    folded = committed_fold(root)[1]
    assert folded == {0, 1}, f"old batches must fold into baseline, got {folded}"


def test_rollup_compaction_crash_windows_are_safe(spark, tmp_path):
    """Round-1 advice follow-through: a crash at any point of compaction must
    never lose or double-count contributions.  (a) an UNcommitted baseline
    (no _COMMITTED marker) is invisible to readers; (b) a committed baseline
    with its folded contribution dirs still on disk (crash before GC) does
    not double-count them."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.streaming._state import (
        _BASELINE,
        _COMMITTED,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import _CONTRIB
    from mysql_cdc_debezium_starrocks_spark.streaming.rollup import (
        compact_rollup,
        daily_view,
        merge_rollup_batch,
        read_rollup,
    )

    rows = [
        (1, "2024-01-01 10:00:30", 1, "click", 2.0),
        (2, "2024-01-01 11:00:45", 1, "click", 4.0),
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    state = str(tmp_path / "st")
    for bid in (0, 1, 2):
        merge_rollup_batch(spark, state, batch, batch_id=bid)
    truth = sorted(map(tuple, daily_view(read_rollup(spark, state)).collect()))

    # (a) crash between baseline data write and _COMMITTED marker
    snapshot = str(tmp_path / "snap")
    shutil.copytree(state, snapshot)
    compact_rollup(spark, state, keep_last=1)
    base_rel = os.path.join(_CONTRIB, _BASELINE)
    base_root = os.path.join(state, base_rel)
    (ver,) = os.listdir(base_root)
    uncommitted = str(tmp_path / "uncommitted")
    shutil.copytree(snapshot, uncommitted)
    shutil.copytree(
        os.path.join(base_root, ver), os.path.join(uncommitted, base_rel, ver)
    )
    os.remove(os.path.join(uncommitted, base_rel, ver, _COMMITTED))
    got = sorted(map(tuple, daily_view(read_rollup(spark, uncommitted)).collect()))
    assert got == truth, "uncommitted baseline must be ignored"

    # (b) crash after _COMMITTED but before GC of folded contribution dirs
    committed = str(tmp_path / "committed")
    shutil.copytree(snapshot, committed)  # all 3 contrib dirs still present
    shutil.copytree(
        os.path.join(base_root, ver), os.path.join(committed, base_rel, ver)
    )
    got = sorted(map(tuple, daily_view(read_rollup(spark, committed)).collect()))
    assert got == truth, "manifest must exclude folded-but-not-yet-GC'd dirs"


def test_windowed_unique_users_matches_batch(spark, tmp_path):
    """Streaming HLL distinct-users per window must land within the sketch's
    error bound of the exact batch count for every closed window."""
    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.streaming.analytics import (
        windowed_unique_users,
    )

    from .conftest import SF_SMOKE

    events = load(spark, SF_SMOKE, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    src = str(tmp_path / "ev_json")
    events.coalesce(4).write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    q = (
        windowed_unique_users(stream, "10 minutes", "1 hour")
        .writeStream.format("memory")
        .queryName("t_uniq_win")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.window_start, r.event_type): r.approx_users
        for r in spark.table("t_uniq_win").collect()
    }
    exact = {
        (r.w, r.event_type): r.n
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("w"), "event_type"
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert got, "windows must close and emit"
    for key, approx in got.items():
        n = exact[key]
        assert abs(approx - n) <= max(2, 0.05 * n), f"{key}: {approx} vs {n}"


def test_dedup_at_ingest_finds_cross_batch_pairs(spark, tmp_path):
    """Streaming dedup-at-ingest: a later batch's copy of an earlier doc is
    caught against the signature store; within-batch copies are caught
    once; unrelated docs produce no pairs; replay is idempotent."""
    from mysql_cdc_debezium_starrocks_spark.streaming.dedup_ingest import (
        dup_pairs,
        ingest_dedup_batch,
        start_dedup_ingest,
    )

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about spark shuffles and parquet files"
    text_c = "a third unrelated corpus document mentioning neither foxes nor dogs"
    b0 = [(1, text_a), (2, text_b)]
    b1 = [(3, text_a), (4, text_c), (5, text_c)]  # 3≈1 cross-batch, 5≈4 within

    src = str(tmp_path / "docs")
    _write_batches(
        src,
        [
            [{"doc_id": i, "text": t} for i, t in b0],
            [{"doc_id": i, "text": t} for i, t in b1],
        ],
    )
    state = str(tmp_path / "dd")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = start_dedup_ingest(spark, stream, state, str(tmp_path / "ck"))
    q.awaitTermination(120)

    got = {
        (r.doc_a, r.doc_b): float(r.jaccard)
        for r in dup_pairs(spark, state).collect()
    }
    assert set(got) == {(1, 3), (4, 5)}, f"unexpected pairs: {got}"
    assert got[(1, 3)] == 1.0 and got[(4, 5)] == 1.0

    # replay the last batch: same batch_id reads only earlier sigs -> no-op
    df = spark.createDataFrame([(i, t) for i, t in b1], "doc_id long, text string")
    ingest_dedup_batch(spark, state, df, batch_id=1)
    again = {
        (r.doc_a, r.doc_b) for r in dup_pairs(spark, state).collect()
    }
    assert again == {(1, 3), (4, 5)}


def test_dedup_at_ingest_nonmonotonic_doc_ids(spark, tmp_path):
    """Regression (round-1 advice): a new doc whose id sorts BELOW a stored
    duplicate's id must still pair with it — doc_ids are not monotonic."""
    from mysql_cdc_debezium_starrocks_spark.streaming.dedup_ingest import (
        dup_pairs,
        ingest_dedup_batch,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about spark shuffles and parquet files"
    state = str(tmp_path / "dd")
    b0 = spark.createDataFrame([(100, text), (200, other)],
                               "doc_id long, text string")
    ingest_dedup_batch(spark, state, b0, batch_id=0)
    b1 = spark.createDataFrame([(5, text)], "doc_id long, text string")
    ingest_dedup_batch(spark, state, b1, batch_id=1)

    got = {(r.doc_a, r.doc_b) for r in dup_pairs(spark, state).collect()}
    assert got == {(5, 100)}, f"new id 5 must pair with stored id 100: {got}"


def test_phash_ingest_matches_batch_dupes_and_is_idempotent(spark, tmp_path):
    """Image dedup-at-ingest: streaming the corpus in batches must find
    EXACTLY the batch operator's pair set (same blocking, same verify),
    cross-batch and within-batch pairs once each, non-monotonic ids
    included; replaying a batch is a no-op."""
    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.operators.multimodal import (
        mm_phash_dupes,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.phash_ingest import (
        dup_image_pairs,
        ingest_phash_batch,
    )

    sf = "/root/testdata/sf0.001"
    docs = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", F.encode("text", "utf-8").alias("blob"))
    )
    want = {
        (r.doc_a, r.doc_b): r.hamming
        for r in mm_phash_dupes(spark, sf).collect()
    }
    assert want

    state = str(tmp_path / "ph")
    # split into 3 batches by doc_id mod — NOT contiguous ranges, so later
    # batches carry ids below stored ones (non-monotonic regression built in)
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, part in enumerate(parts):
        ingest_phash_batch(spark, state, part, batch_id=i)

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dup_image_pairs(spark, state).collect()
    }
    assert got == want

    # crash-replay of the last batch regenerates byte-identical output
    ingest_phash_batch(spark, state, parts[2], batch_id=2)
    again = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dup_image_pairs(spark, state).collect()
    }
    assert again == want
