"""Retention hooks for the round-4 ingest maintainers (VERDICT r04 #3):
``mix_ingest`` and ``phash_ingest`` re-read their contribution stores per
micro-batch, so without compaction a long-lived stream accretes one dir per
batch forever (O(#batches) file listings).  These soaks drive each
maintainer for 50+ batches with the fold hook on and prove:

1. BOUNDED state: live batch-dir counts stay O(keep_last), independent of
   how many batches ran (plus exactly one committed baseline);
2. EQUAL output: the compacted state is row-identical to an uncompacted
   control fed the same batches (folding is a pure representation change);
3. REPLAY safety: re-running the newest batch against the compacted state
   is a byte-identical no-op (the fold never absorbs dirs a crash-replay
   could touch);
4. crash-mid-compaction is INVISIBLE (committed-marker-last, like
   test_retention's theta case) and a fold that ran ahead of the replay
   horizon is REFUSED loudly.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.streaming._state import (
    fold_verbatim,
    numbered_ids,
    read_fold_paths,
)

N_BATCHES = 52
COMPACT_EVERY = 5
KEEP_LAST = 2


def _live_dirs(root: str) -> int:
    return len(numbered_ids(root))


def _baselines(root: str) -> list[str]:
    b = os.path.join(root, "baseline")
    return [d for d in os.listdir(b) if d.startswith("v=")] if os.path.isdir(b) else []


def _mix_batch(spark, i: int):
    """Deterministic 3-doc batch cycling the targeted sources plus one
    untargeted source (which must keep dropping after folds)."""
    from mysql_cdc_debezium_starrocks_spark.streaming.mix_ingest import TARGET_PPM

    srcs = sorted(TARGET_PPM)
    rows = [
        (i * 3 + 0, srcs[i % len(srcs)], f"alpha b{i} " + "tok " * (5 + i % 7)),
        (i * 3 + 1, srcs[(i + 1) % len(srcs)], f"beta b{i} " + "w " * (3 + i % 5)),
        (i * 3 + 2, "untargeted_src", f"gamma b{i} filler text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_mix_ingest_compaction_soak_bounded_equal_replayable(spark, tmp_path):
    from mysql_cdc_debezium_starrocks_spark.streaming.mix_ingest import (
        compact_mix_ingest,
        ingest_mix_batch,
        kept_docs,
        ledger,
    )

    compacted = str(tmp_path / "c")
    control = str(tmp_path / "u")
    for i in range(N_BATCHES):
        b = _mix_batch(spark, i)
        ingest_mix_batch(spark, compacted, b, batch_id=i)
        if i % COMPACT_EVERY == COMPACT_EVERY - 1:
            compact_mix_ingest(spark, compacted, keep_last=KEEP_LAST)
        ingest_mix_batch(spark, control, b, batch_id=i)

    # 1. bounded: live dirs never exceed keep_last + compact cadence
    for sub in ("counts", "kept"):
        assert _live_dirs(os.path.join(compacted, sub)) <= KEEP_LAST + COMPACT_EVERY
        assert _live_dirs(os.path.join(control, sub)) == N_BATCHES
        assert len(_baselines(os.path.join(compacted, sub))) == 1

    # 2. equal output: folding changed the representation, not the rows
    led_c = {r.source: r.tokens for r in ledger(spark, compacted).collect()}
    led_u = {r.source: r.tokens for r in ledger(spark, control).collect()}
    assert led_c == led_u
    kept_c = {(r.doc_id, r.rate_ppm) for r in kept_docs(spark, compacted).collect()}
    kept_u = {(r.doc_id, r.rate_ppm) for r in kept_docs(spark, control).collect()}
    assert kept_c == kept_u and kept_c

    # 3. replay of the newest batch is a no-op against the compacted state
    ingest_mix_batch(spark, compacted, _mix_batch(spark, N_BATCHES - 1),
                     batch_id=N_BATCHES - 1)
    assert {(r.doc_id, r.rate_ppm)
            for r in kept_docs(spark, compacted).collect()} == kept_c
    assert {r.source: r.tokens
            for r in ledger(spark, compacted).collect()} == led_c


def _blob_batch(spark, i: int):
    """2 images per batch; content repeats every 7 docs so cross-batch
    near-dup pairs keep forming against FOLDED band-store rows."""
    rows = [
        (i * 2 + j, f"image group {(i * 2 + j) % 7} pixel payload " * 8)
        for j in range(2)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )


def test_phash_ingest_compaction_soak_bounded_equal_replayable(spark, tmp_path):
    from mysql_cdc_debezium_starrocks_spark.streaming.phash_ingest import (
        compact_phash_ingest,
        dup_image_pairs,
        ingest_phash_batch,
    )

    compacted = str(tmp_path / "c")
    control = str(tmp_path / "u")
    for i in range(N_BATCHES):
        b = _blob_batch(spark, i)
        ingest_phash_batch(spark, compacted, b, batch_id=i)
        if i % COMPACT_EVERY == COMPACT_EVERY - 1:
            compact_phash_ingest(spark, compacted, keep_last=KEEP_LAST)
        ingest_phash_batch(spark, control, b, batch_id=i)

    for sub in ("sigs", "pairs"):
        assert _live_dirs(os.path.join(compacted, sub)) <= KEEP_LAST + COMPACT_EVERY
        assert _live_dirs(os.path.join(control, sub)) == N_BATCHES
        assert len(_baselines(os.path.join(compacted, sub))) == 1

    pairs_c = {(r.doc_a, r.doc_b, r.hamming)
               for r in dup_image_pairs(spark, compacted).collect()}
    pairs_u = {(r.doc_a, r.doc_b, r.hamming)
               for r in dup_image_pairs(spark, control).collect()}
    assert pairs_c == pairs_u
    # the repeating content guarantees pairs kept forming against folded
    # store rows — an empty set would mean the soak tested nothing
    assert len(pairs_c) > 100

    ingest_phash_batch(spark, compacted, _blob_batch(spark, N_BATCHES - 1),
                       batch_id=N_BATCHES - 1)
    assert {(r.doc_a, r.doc_b, r.hamming)
            for r in dup_image_pairs(spark, compacted).collect()} == pairs_c


def test_fold_crash_mid_compaction_is_invisible(spark, tmp_path):
    """A baseline dir missing its _COMMITTED marker (crash between data
    write and commit) must be ignored by readers and superseded — never
    trusted, never resurrected."""
    root = str(tmp_path / "store")
    for i in range(5):
        spark.range(i * 10, i * 10 + 10).withColumnRenamed("id", "v").write.parquet(
            os.path.join(root, f"batch={i}")
        )
    before = sorted(
        r.v for r in spark.read.parquet(*read_fold_paths(root)).collect()
    )

    # simulate the crash: complete data + manifest, NO commit marker
    crash = os.path.join(root, "baseline", "v=0")
    spark.range(1).select(F.lit(-999).alias("v")).write.parquet(
        os.path.join(crash, "data")
    )
    with open(os.path.join(crash, "_FOLDED"), "w") as f:
        json.dump([0, 1, 2], f)
    assert sorted(
        r.v for r in spark.read.parquet(*read_fold_paths(root)).collect()
    ) == before

    # recovery: the next fold writes v=1 (no id reuse) and commits
    fold_verbatim(spark, root, keep_last=2)
    assert sorted(
        r.v for r in spark.read.parquet(*read_fold_paths(root)).collect()
    ) == before
    assert numbered_ids(root) == [3, 4]
    assert os.path.exists(os.path.join(root, "baseline", "v=1", "_COMMITTED"))


def test_fold_crash_after_commit_before_gc_never_double_counts(spark, tmp_path):
    """The OTHER crash window: the baseline committed (marker written) but
    the absorbed batch dirs were not yet deleted.  Readers must serve each
    row exactly once — folded ids are excluded from the live listing even
    while their dirs still exist — and the next fold finishes the cleanup."""
    import shutil

    root = str(tmp_path / "store")
    for i in range(5):
        spark.range(i * 10, i * 10 + 10).withColumnRenamed("id", "v").write.parquet(
            os.path.join(root, f"batch={i}")
        )
    before = sorted(
        r.v for r in spark.read.parquet(*read_fold_paths(root)).collect()
    )
    # run a real fold, then simulate the crash by RESTORING an absorbed dir
    # (equivalent state: marker committed, dir deletion never ran)
    fold_verbatim(spark, root, keep_last=2)  # folds 0, 1, 2
    spark.range(0, 10).withColumnRenamed("id", "v").write.parquet(
        os.path.join(root, "batch=0")
    )
    assert numbered_ids(root) == [0, 3, 4]  # dir exists on disk...
    got = sorted(r.v for r in spark.read.parquet(*read_fold_paths(root)).collect())
    assert got == before  # ...but is NOT served twice
    # the next fold absorbs nothing new below keep_last=2... but must also
    # not resurrect batch 0: its id stays in the committed manifest
    fold_verbatim(spark, root, keep_last=1)  # folds 3 (0 already folded)
    got = sorted(r.v for r in spark.read.parquet(*read_fold_paths(root)).collect())
    assert got == before
    shutil.rmtree(os.path.join(root, "batch=0"), ignore_errors=True)
    assert sorted(
        r.v for r in spark.read.parquet(*read_fold_paths(root)).collect()
    ) == before


def test_fold_ahead_of_replay_horizon_is_refused(spark, tmp_path):
    """read_fold_paths(before=b) must raise if the committed baseline holds
    batch ids >= b — serving it would double-count the replaying batch."""
    import pytest

    root = str(tmp_path / "store")
    for i in range(4):
        spark.range(3).withColumn("v", F.lit(i)).write.parquet(
            os.path.join(root, f"batch={i}")
        )
    fold_verbatim(spark, root, keep_last=1)  # folds 0, 1, 2
    # a replay of batch 3 (the newest, unfolded) reads fine
    assert read_fold_paths(root, before=3)
    # a hypothetical replay of an already-folded batch is refused loudly
    with pytest.raises(RuntimeError, match="compaction ran ahead"):
        read_fold_paths(root, before=2)


def _doc_batch(spark, i: int):
    """2 docs per batch; content repeats every 7 docs so cross-batch
    near-dup pairs keep forming against FOLDED signature-store rows."""
    rows = [
        (
            i * 2 + j,
            f"shared shingle corpus group {(i * 2 + j) % 7} "
            + "alpha beta gamma delta epsilon zeta eta theta " * 4,
        )
        for j in range(2)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_ingest_compaction_soak_bounded_equal_replayable(spark, tmp_path):
    from mysql_cdc_debezium_starrocks_spark.streaming.dedup_ingest import (
        compact_dedup_ingest,
        dup_pairs,
        ingest_dedup_batch,
    )

    compacted = str(tmp_path / "c")
    control = str(tmp_path / "u")
    for i in range(N_BATCHES):
        b = _doc_batch(spark, i)
        ingest_dedup_batch(spark, compacted, b, batch_id=i)
        if i % COMPACT_EVERY == COMPACT_EVERY - 1:
            compact_dedup_ingest(spark, compacted, keep_last=KEEP_LAST)
        ingest_dedup_batch(spark, control, b, batch_id=i)

    # 1. bounded: live dirs never exceed keep_last + compact cadence
    for sub in ("sigs", "pairs"):
        assert _live_dirs(os.path.join(compacted, sub)) <= KEEP_LAST + COMPACT_EVERY
        assert _live_dirs(os.path.join(control, sub)) == N_BATCHES
        assert len(_baselines(os.path.join(compacted, sub))) == 1

    # 2. equal output: the pair set is identical to the uncompacted control
    pairs_c = {(r.doc_a, r.doc_b, str(r.jaccard))
               for r in dup_pairs(spark, compacted).collect()}
    pairs_u = {(r.doc_a, r.doc_b, str(r.jaccard))
               for r in dup_pairs(spark, control).collect()}
    assert pairs_c == pairs_u
    # the repeating content guarantees pairs kept forming against folded
    # store rows — an empty set would mean the soak tested nothing
    assert len(pairs_c) > 100

    # 3. replay of the newest batch is a no-op against the compacted state
    ingest_dedup_batch(spark, compacted, _doc_batch(spark, N_BATCHES - 1),
                       batch_id=N_BATCHES - 1)
    assert {(r.doc_a, r.doc_b, str(r.jaccard))
            for r in dup_pairs(spark, compacted).collect()} == pairs_c


def _vec_batch(spark, i: int):
    """3 vectors per batch; directions repeat every 5 ids so every bucket
    keeps accumulating rows across folds."""
    rows = [
        (
            i * 3 + j,
            [
                float((i * 3 + j) % 5) - 2.0,
                float(j + 1),
                1.0 if (i + j) % 2 == 0 else -1.0,
                0.5,
            ],
        )
        for j in range(3)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_ingest_compaction_soak_bounded_equal_pruned(spark, tmp_path):
    import pytest

    from mysql_cdc_debezium_starrocks_spark.streaming.ann_ingest import (
        ann_index_query,
        compact_ann_ingest,
        ingest_ann_batch,
        read_ann_index,
    )

    compacted = str(tmp_path / "c")
    control = str(tmp_path / "u")
    for i in range(N_BATCHES):
        b = _vec_batch(spark, i)
        ingest_ann_batch(spark, compacted, b, batch_id=i)
        if i % COMPACT_EVERY == COMPACT_EVERY - 1:
            compact_ann_ingest(spark, compacted, keep_last=KEEP_LAST)
        ingest_ann_batch(spark, control, b, batch_id=i)

    # 1. bounded dirs + exactly one committed baseline
    assert _live_dirs(os.path.join(compacted, "index")) <= KEEP_LAST + COMPACT_EVERY
    assert _live_dirs(os.path.join(control, "index")) == N_BATCHES
    assert len(_baselines(os.path.join(compacted, "index"))) == 1

    # 2. the folded index serves exactly the control's rows
    rows_c = {(r.vec_id, r.bucket)
              for r in read_ann_index(spark, compacted).collect()}
    rows_u = {(r.vec_id, r.bucket)
              for r in read_ann_index(spark, control).collect()}
    assert rows_c == rows_u and len(rows_c) == N_BATCHES * 3

    # 3. query equality AND partition pruning over the baseline-inclusive
    #    read (the fold preserved the bucket=<b> layout)
    queries = _vec_batch(spark, 0)
    got_c = sorted(map(tuple,
                       ann_index_query(spark, compacted, queries, k=3).collect()))
    got_u = sorted(map(tuple,
                       ann_index_query(spark, control, queries, k=3).collect()))
    assert got_c == got_u and got_c
    plan = (
        ann_index_query(spark, compacted, queries, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan
    assert "bucket" in plan.split("PartitionFilters: [", 1)[1][:120]

    # 4. replay of the newest batch is a no-op; replay of a FOLDED batch is
    #    refused loudly (this writer never reads state, so the guard lives
    #    in ingest_ann_batch itself)
    ingest_ann_batch(spark, compacted, _vec_batch(spark, N_BATCHES - 1),
                     batch_id=N_BATCHES - 1)
    assert {(r.vec_id, r.bucket)
            for r in read_ann_index(spark, compacted).collect()} == rows_c
    with pytest.raises(RuntimeError, match="compaction ran ahead"):
        ingest_ann_batch(spark, compacted, _vec_batch(spark, 0), batch_id=0)


def test_dedup_ingest_folded_replay_refused(spark, tmp_path):
    """The store-reading maintainer's guard: replaying a batch whose id the
    baseline already absorbed must be refused by the before= read."""
    import pytest

    from mysql_cdc_debezium_starrocks_spark.streaming.dedup_ingest import (
        compact_dedup_ingest,
        ingest_dedup_batch,
    )

    state = str(tmp_path / "d")
    for i in range(6):
        ingest_dedup_batch(spark, state, _doc_batch(spark, i), batch_id=i)
    compact_dedup_ingest(spark, state, keep_last=1)
    with pytest.raises(RuntimeError, match="compaction ran ahead"):
        ingest_dedup_batch(spark, state, _doc_batch(spark, 0), batch_id=0)


def test_partitioned_fold_crash_mid_compaction_is_invisible(spark, tmp_path):
    """The partition_by fold path (ANN bucket layout): a baseline missing
    its _COMMITTED marker must be ignored by the per-leg basePath reader
    and superseded by the next fold, which must also keep the bucket
    partition layout."""
    from mysql_cdc_debezium_starrocks_spark.streaming._state import (
        read_fold_df,
    )

    root = str(tmp_path / "store")
    for i in range(5):
        (
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("id AS vec_id", "CAST(id % 4 AS INT) AS bucket")
            .repartition("bucket")
            .write.partitionBy("bucket")
            .parquet(os.path.join(root, f"batch={i}"))
        )
    cols = ["vec_id", "bucket"]
    before = sorted(
        map(tuple, read_fold_df(spark, root, cols).collect())
    )
    assert len(before) == 50

    # crash: complete partitioned data + manifest, NO commit marker
    crash = os.path.join(root, "baseline", "v=0")
    (
        spark.range(1)
        .selectExpr("CAST(-999 AS BIGINT) AS vec_id", "CAST(0 AS INT) AS bucket")
        .write.partitionBy("bucket")
        .parquet(os.path.join(crash, "data"))
    )
    with open(os.path.join(crash, "_FOLDED"), "w") as f:
        json.dump([0, 1, 2], f)
    assert sorted(
        map(tuple, read_fold_df(spark, root, cols).collect())
    ) == before

    # recovery fold commits v=1, keeps the bucket layout, GCs absorbed dirs
    fold_verbatim(spark, root, keep_last=2, partition_by=["bucket"])
    assert sorted(
        map(tuple, read_fold_df(spark, root, cols).collect())
    ) == before
    assert numbered_ids(root) == [3, 4]
    vdir = os.path.join(root, "baseline", "v=1")
    assert os.path.exists(os.path.join(vdir, "_COMMITTED"))
    assert any(
        d.startswith("bucket=") for d in os.listdir(os.path.join(vdir, "data"))
    )
    # partition pruning works over the recovered baseline-inclusive read
    plan = (
        read_fold_df(spark, root, cols)
        .filter(F.col("bucket") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan


def test_dedup_and_ann_streaming_path_with_compaction(spark, tmp_path):
    """The start_* wiring with compact_every on: a 3-file stream drained
    one file per trigger folds mid-stream and still yields exactly the
    direct-call results (dedup pair set / ANN index rows)."""
    from mysql_cdc_debezium_starrocks_spark.streaming.ann_ingest import (
        ingest_ann_batch,
        read_ann_index,
        start_ann_ingest,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.dedup_ingest import (
        dup_pairs,
        ingest_dedup_batch,
        start_dedup_ingest,
    )

    # --- dedup ---
    src = str(tmp_path / "dsrc")
    os.makedirs(src)
    for k in range(3):
        rows = [
            _doc_batch(spark, i).collect() for i in range(k * 2, k * 2 + 2)
        ]
        flat = [(r.doc_id, r.text) for batch in rows for r in batch]
        df = spark.createDataFrame(flat, "doc_id long, text string")
        df.coalesce(1).write.mode("append").json(src)
    files = sorted(os.listdir(src))
    for j, f in enumerate(p for p in files if p.endswith(".json")):
        os.utime(os.path.join(src, f), (1700000000 + j, 1700000000 + j))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    dstate = str(tmp_path / "dstate")
    q = start_dedup_ingest(
        spark, stream, dstate, str(tmp_path / "dckpt"),
        compact_every=2, keep_last=1,
    )
    q.awaitTermination(180)

    direct = str(tmp_path / "ddirect")
    for b in range(3):
        rows = [
            _doc_batch(spark, i).collect() for i in range(b * 2, b * 2 + 2)
        ]
        flat = [(r.doc_id, r.text) for batch in rows for r in batch]
        ingest_dedup_batch(
            spark, direct,
            spark.createDataFrame(flat, "doc_id long, text string"), b,
        )
    got = {(r.doc_a, r.doc_b) for r in dup_pairs(spark, dstate).collect()}
    want = {(r.doc_a, r.doc_b) for r in dup_pairs(spark, direct).collect()}
    assert got == want and got

    # --- ann ---
    asrc = str(tmp_path / "asrc")
    os.makedirs(asrc)
    for k in range(3):
        _vec_batch(spark, k).coalesce(1).write.mode("append").parquet(asrc)
    vstream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).option("maxFilesPerTrigger", 1).parquet(asrc)
    astate = str(tmp_path / "astate")
    q = start_ann_ingest(
        spark, vstream, astate, str(tmp_path / "ackpt"),
        compact_every=2, keep_last=1,
    )
    q.awaitTermination(180)
    adirect = str(tmp_path / "adirect")
    seen = set()
    for k in range(3):
        ingest_ann_batch(spark, adirect, _vec_batch(spark, k), k)
        seen |= {k * 3 + j for j in range(3)}
    got = {(r.vec_id, r.bucket)
           for r in read_ann_index(spark, astate).collect()}
    want = {(r.vec_id, r.bucket)
            for r in read_ann_index(spark, adirect).collect()}
    assert got == want and {v for v, _ in got} == seen
