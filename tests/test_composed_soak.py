"""Composition soak: every ingest maintainer rides
ONE document/vector/event/order stream CONCURRENTLY against one shared state
root for 100 batches, with compaction firing mid-stream on a staggered
per-maintainer cadence — the realistic deployment shape no solo soak
exercises.  Asserts, per maintainer:

1. BOUNDED live dirs (keep_last + cadence) in both runs;
2. EQUAL final output vs its solo control — same batches, own state root,
   compaction at a DIFFERENT cadence offset — so cross-maintainer
   interference (shared state-dir conventions, GC vs fold timing) and
   fold-timing independence are covered in one pass (fold-vs-uncompacted
   equality is already pinned per maintainer by the solo soaks);
3. the CDC materializer's state matches its solo twin and the secondary
   index over the composed state answers exactly like a full scan — built
   once early, then maintained by INCREMENTAL refresh on the compaction
   cadence (the refresh_secondary_index maintainer hook, not a per-check
   full rebuild; lookups re-checked mid-soak at every refresh and after
   the final tail refresh).

All ingests of a batch run CONCURRENTLY in a thread pool — genuinely
concurrent maintainers over one stream (the deployment shape), and the
tiny per-maintainer jobs pipeline across the otherwise-idle cores.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.streaming import (
    CdcLoadConfig,
    merge_batch,
    read_state,
)
from mysql_cdc_debezium_starrocks_spark.streaming._state import numbered_ids

N_BATCHES = 100
CADENCE = 10  # each maintainer folds every 10 batches, staggered by offset
KEEP_LAST = 2
DIM = 64

import json  # noqa: E402


def _docs(spark, i: int):
    """3 docs per batch over the mix-targeted sources; content repeats every
    7 docs so cross-batch near-dup pairs keep forming against folded
    signature stores (the solo-soak discipline)."""
    from mysql_cdc_debezium_starrocks_spark.streaming.mix_ingest import (
        TARGET_PPM,
    )

    srcs = sorted(TARGET_PPM)
    rows = [
        (
            i * 3 + j,
            srcs[(i + j) % len(srcs)],
            f"shared shingle corpus group {(i * 3 + j) % 7} "
            + "tok filler " * (3 + (i + j) % 4),
        )
        for j in range(3)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _vecs(spark, i: int):
    """2 vectors per batch; components repeat every 7 ids so same-bucket
    neighbors keep forming."""
    rows = [
        (
            i * 2 + j,
            [
                float((((i * 2 + j) % 7) * 31 + d * 17) % 19 - 9) / 10.0
                for d in range(DIM)
            ],
        )
        for j in range(2)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _hll_rows(spark, i: int):
    # 60% repeats across batches, 40% fresh keys
    rows = [(f"user{(i * 3 + j) % 120}",) for j in range(3)]
    rows.append((f"fresh{i}",))
    return spark.createDataFrame(rows, "key string")


def _cusum_rows(spark, i: int):
    rows = [
        ("steady", i, 10 + (i * 7) % 3),
        ("shifted", i, (10 if i < 60 else 16) + (i * 5) % 3),
    ]
    return spark.createDataFrame(rows, "event_type string, hr long, cnt long")


def _order_events(spark, i: int):
    """Per batch: one insert, one update of the previous key, and every 5th
    batch a delete two keys back — the standard CDC op mix."""

    def ev(seq, key, status, deleted="false"):
        payload = {
            "order_key": key,
            "cust_key": key % 10,
            "status": status,
            "total_price": f"{(key % 900) + 100}.00",
            "__deleted": deleted,
        }
        return (seq, json.dumps({"payload": payload}))

    rows = [ev(i * 10, 1000 + i, "new")]
    if i > 0:
        rows.append(ev(i * 10 + 1, 1000 + i - 1, "updated"))
    if i >= 2 and i % 5 == 0:
        rows.append(ev(i * 10 + 2, 1000 + i - 2, "gone", deleted="true"))
    return spark.createDataFrame(rows, "_seq long, value string")


AGG_SPEC = {"n": ("count", None), "tok": ("sum", "tk"), "hi": ("max", "tk")}


def _cdc_cfg(root: str, name: str) -> CdcLoadConfig:
    return CdcLoadConfig(
        name=name,
        source_dir=os.path.join(root, "ev"),
        state_dir=os.path.join(root, "state"),
        checkpoint_dir=os.path.join(root, "ckpt"),
    )


def test_all_maintainers_composed_100_batch_soak(spark, tmp_path):
    from mysql_cdc_debezium_starrocks_spark.functions import words
    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import (
        compact_agg_mv,
        merge_agg_mv_batch,
        read_agg_mv,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.ann_ingest import (
        ann_index_query,
        compact_ann_ingest,
        ingest_ann_batch,
        read_ann_index,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.cusum_ingest import (
        calibrate_cusum,
        compact_cusum_ingest,
        cusum_scores,
        ingest_cusum_batch,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.dedup_ingest import (
        compact_dedup_ingest,
        dup_pairs,
        ingest_dedup_batch,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.hll_ingest import (
        compact_hll_ingest,
        ingest_hll_batch,
        running_estimate,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.mix_ingest import (
        compact_mix_ingest,
        ingest_mix_batch,
        kept_docs,
        ledger,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.phash_ingest import (
        compact_phash_ingest,
        dup_image_pairs,
        ingest_phash_batch,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.budget_ingest import (
        budget_report,
        compact_budget_ingest,
        ingest_budget_batch,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.secondary_index import (
        build_secondary_index,
        lookup_by_index,
        refresh_secondary_index,
    )
    from mysql_cdc_debezium_starrocks_spark.streaming.theta_stats import (
        compact_theta,
        read_theta,
        update_theta_batch,
    )

    comp = str(tmp_path / "composed")  # ONE shared root, per-maintainer subdirs
    solo = str(tmp_path / "solo")

    def _blobs(docs):
        return docs.select("doc_id", F.encode("text", "utf-8").alias("blob"))

    def _aggdf(docs):
        return docs.select("source", F.size(words(F.col("text"))).alias("tk"))

    # cusum calibration: the same pre-shift regime for both runs
    calib = spark.createDataFrame(
        [("steady", h, 10 + (h * 7) % 3) for h in range(-24, 0)]
        + [("shifted", h, 10 + (h * 5) % 3) for h in range(-24, 0)],
        "event_type string, hr long, cnt long",
    )
    for root in (comp, solo):
        calibrate_cusum(os.path.join(root, "cusum"), calib)

    cfg_c = _cdc_cfg(os.path.join(comp, "cdc"), "soak_c")
    cfg_s = _cdc_cfg(os.path.join(solo, "cdc"), "soak_s")

    # (ingest, compact, cadence offset) per maintainer; d/v/h/c/a/o are the
    # per-batch frames, shared verbatim between composed and solo runs
    def steps(root):
        return [
            (lambda d, v, h, c, a, o, i, r=root: ingest_dedup_batch(
                spark, os.path.join(r, "dedup"), d, i),
             lambda r=root: compact_dedup_ingest(
                 spark, os.path.join(r, "dedup"), keep_last=KEEP_LAST), 0),
            (lambda d, v, h, c, a, o, i, r=root: ingest_ann_batch(
                spark, os.path.join(r, "ann"), v, i),
             lambda r=root: compact_ann_ingest(
                 spark, os.path.join(r, "ann"), keep_last=KEEP_LAST), 1),
            (lambda d, v, h, c, a, o, i, r=root: ingest_mix_batch(
                spark, os.path.join(r, "mix"), d, i),
             lambda r=root: compact_mix_ingest(
                 spark, os.path.join(r, "mix"), keep_last=KEEP_LAST), 2),
            (lambda d, v, h, c, a, o, i, r=root: ingest_phash_batch(
                spark, os.path.join(r, "phash"), _blobs(d), i),
             lambda r=root: compact_phash_ingest(
                 spark, os.path.join(r, "phash"), keep_last=KEEP_LAST), 3),
            (lambda d, v, h, c, a, o, i, r=root: ingest_hll_batch(
                os.path.join(r, "hll"), h, i),
             lambda r=root: compact_hll_ingest(
                 spark, os.path.join(r, "hll"), keep_last=KEEP_LAST), 4),
            (lambda d, v, h, c, a, o, i, r=root: ingest_cusum_batch(
                spark, os.path.join(r, "cusum"), c, i),
             lambda r=root: compact_cusum_ingest(
                 spark, os.path.join(r, "cusum"), keep_last=KEEP_LAST), 5),
            (lambda d, v, h, c, a, o, i, r=root: merge_agg_mv_batch(
                spark, os.path.join(r, "aggmv"), a, ["source"], AGG_SPEC, i),
             lambda r=root: compact_agg_mv(
                 spark, os.path.join(r, "aggmv"), ["source"], AGG_SPEC,
                 keep_last=KEEP_LAST), 6),
            (lambda d, v, h, c, a, o, i, r=root: update_theta_batch(
                spark, os.path.join(r, "theta"), d, "doc_id", i, k=32),
             lambda r=root: compact_theta(
                 spark, os.path.join(r, "theta"), keep_last=KEEP_LAST), 7),
            # round 8: the streaming token-budget admission maintainer
            (lambda d, v, h, c, a, o, i, r=root: ingest_budget_batch(
                spark, os.path.join(r, "budget"), d, i),
             lambda r=root: compact_budget_ingest(
                 spark, os.path.join(r, "budget"), keep_last=KEEP_LAST), 9),
        ]

    from concurrent.futures import ThreadPoolExecutor

    comp_steps, solo_steps = steps(comp), steps(solo)
    with ThreadPoolExecutor(max_workers=12) as pool:
        for i in range(N_BATCHES):
            d, v = _docs(spark, i), _vecs(spark, i)
            h, c = _hll_rows(spark, i), _cusum_rows(spark, i)
            a, o = _aggdf(d), _order_events(spark, i)
            futs = [
                pool.submit(ingest, d, v, h, c, a, o, i)
                for ingest, _cp, _off in comp_steps + solo_steps
            ]
            futs.append(pool.submit(merge_batch, spark, cfg_c, o))
            futs.append(pool.submit(merge_batch, spark, cfg_s, o))
            for f in futs:
                f.result()
            if i > 0:  # staggered folds; solo offset shifted by half a cadence
                for _in, compact, off in comp_steps:
                    if i % CADENCE == off:
                        compact()
                for _in, compact, off in solo_steps:
                    if i % CADENCE == (off + CADENCE // 2) % CADENCE:
                        compact()
            # secondary-index leg (round 8, r07 verdict #4): build once
            # early, then INCREMENTAL refresh on the same compaction
            # cadence — the maintainer hook's shape (cost follows the
            # batch's changed pk buckets).  Serialized with merges: runs
            # after the pool joins, like the folds above.
            if i == CADENCE:
                build_secondary_index(spark, cfg_c, "status")
            elif i > CADENCE and i % CADENCE == 8:
                nch = refresh_secondary_index(spark, cfg_c, "status")
                assert nch > 0  # every wave touches pk buckets
                got_w = sorted(
                    r["order_key"]
                    for r in lookup_by_index(
                        spark, cfg_c, "status", "updated"
                    ).collect()
                )
                want_w = sorted(
                    r["order_key"]
                    for r in read_state(spark, cfg_c)
                    .filter(F.col("status") == "updated")
                    .collect()
                )
                assert got_w == want_w and got_w

    # 1. bounded dirs in both runs (the uncompacted-accretion control is the
    # per-maintainer solo soaks' job; here both runs fold, on shifted offsets)
    bound = KEEP_LAST + CADENCE
    for sub in ("dedup/sigs", "dedup/pairs", "ann/index", "mix/counts",
                "mix/kept", "phash/sigs", "phash/pairs", "hll/contrib",
                "cusum/scores", "aggmv/contrib", "theta/contrib",
                "budget/counts", "budget/kept"):
        n_c = len(numbered_ids(os.path.join(comp, sub)))
        n_s = len(numbered_ids(os.path.join(solo, sub)))
        assert n_c <= bound, f"{sub}: {n_c} live dirs > {bound}"
        assert n_s <= bound, f"{sub}: solo has {n_s} live dirs > {bound}"
    assert (
        len(numbered_ids(os.path.join(comp, "cusum", "carry")))
        <= max(KEEP_LAST, 2) + CADENCE
    )

    # 2. per-maintainer output equality: composed+compacted == solo control
    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(dup_pairs(spark, os.path.join(comp, "dedup"))) == rows(
        dup_pairs(spark, os.path.join(solo, "dedup"))
    )
    assert rows(read_ann_index(spark, os.path.join(comp, "ann")).select(
        "vec_id", "bucket")) == rows(
        read_ann_index(spark, os.path.join(solo, "ann")).select(
            "vec_id", "bucket"))
    q0 = _vecs(spark, 0)
    assert rows(ann_index_query(spark, os.path.join(comp, "ann"), q0, k=3)) \
        == rows(ann_index_query(spark, os.path.join(solo, "ann"), q0, k=3))
    assert rows(ledger(spark, os.path.join(comp, "mix"))) == rows(
        ledger(spark, os.path.join(solo, "mix")))
    assert rows(budget_report(spark, os.path.join(comp, "budget"))) == rows(
        budget_report(spark, os.path.join(solo, "budget")))
    assert rows(kept_docs(spark, os.path.join(comp, "mix"))) == rows(
        kept_docs(spark, os.path.join(solo, "mix")))
    pc = rows(dup_image_pairs(spark, os.path.join(comp, "phash")))
    assert pc == rows(dup_image_pairs(spark, os.path.join(solo, "phash")))
    assert len(pc) > 100  # the repeating content kept pairs forming
    assert rows(running_estimate(spark, os.path.join(comp, "hll"))) == rows(
        running_estimate(spark, os.path.join(solo, "hll")))
    sc = rows(cusum_scores(spark, os.path.join(comp, "cusum")))
    assert sc == rows(cusum_scores(spark, os.path.join(solo, "cusum")))
    assert max(r[2] for r in sc) > 0  # the shifted series actually excursed
    assert rows(read_agg_mv(spark, os.path.join(comp, "aggmv"), ["source"],
                            AGG_SPEC)) == rows(
        read_agg_mv(spark, os.path.join(solo, "aggmv"), ["source"], AGG_SPEC))
    assert rows(read_theta(spark, os.path.join(comp, "theta"))) == rows(
        read_theta(spark, os.path.join(solo, "theta")))

    # 3. the CDC state matches its solo twin; the secondary index over the
    # composed state answers exactly like a full scan
    st_c = read_state(spark, cfg_c).select(
        "order_key", "status", "total_price")
    st_s = read_state(spark, cfg_s).select(
        "order_key", "status", "total_price")
    assert rows(st_c) == rows(st_s) and st_c.count() > 0
    # final incremental refresh catches the tail waves since the last
    # cadence hit; lookups must equal the full scan, exactly as after a
    # fresh build (refresh == rebuild is pinned row-identical by
    # test_secondary_index_refresh.py)
    refresh_secondary_index(spark, cfg_c, "status")
    got = sorted(
        r["order_key"]
        for r in lookup_by_index(spark, cfg_c, "status", "updated").collect()
    )
    want = sorted(
        r["order_key"]
        for r in read_state(spark, cfg_c)
        .filter(F.col("status") == "updated")
        .collect()
    )
    assert got == want and got
