"""Materializer/storage state-safety regressions: tombstone-free point
lookups, bucket-layout metadata enforcement, gc-swap crash repair,
partition-pruned join-MV dim propagation, z-order wide-range scaling,
deterministic shard export; the pre-metadata guards (materializer state
and theta sketches refuse to guess a layout, the secondary index infers
its modulus); NaN-safe agg-MV histogram binning; agg-MV refusing a write
its baseline already folded; and the SCD2 history reader skipping an
uncommitted open snapshot.
"""

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.streaming.materializer import (
    CdcLoadConfig,
    _state_path,
    merge_batch,
    point_lookup,
    read_state,
)

SF = "/root/testdata/sf0.001"
ROW1 = {"order_key": 1, "cust_key": 11, "status": "a",
        "total_price": "1.00", "__deleted": "false"}


def _cfg(tmp_path, **kw) -> CdcLoadConfig:
    return CdcLoadConfig(
        name="t_safety",
        source_dir=str(tmp_path / "events"),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        **kw,
    )


def _batch(spark, rows):
    data = [
        (seq, json.dumps(payload)) for seq, payload in rows
    ]
    return spark.createDataFrame(data, "`_seq` LONG, value STRING")


def _seed(spark, cfg):
    merge_batch(spark, cfg, _batch(spark, [
        (1, {"order_key": 1, "cust_key": 11, "status": "a",
             "total_price": "1.00", "__deleted": "false"}),
        (2, {"order_key": 2, "cust_key": 12, "status": "b",
             "total_price": "2.00", "__deleted": "false"}),
    ]))


def test_point_lookup_excludes_tombstones(spark, tmp_path):
    """A deleted key must not 'exist' to point readers: the stored
    tombstone outranks late events but is not a live row."""
    cfg = _cfg(tmp_path)
    _seed(spark, cfg)
    merge_batch(spark, cfg, _batch(spark, [
        (3, {"order_key": 2, "cust_key": 12, "status": "b",
             "total_price": "2.00", "__deleted": "true"}),
    ]))
    assert point_lookup(spark, cfg, 1).count() == 1
    assert point_lookup(spark, cfg, 2).count() == 0  # tombstoned
    assert [r.order_key for r in read_state(spark, cfg).collect()] == [1]


def test_bucket_count_change_refused(spark, tmp_path):
    """The bucket modulus defines the on-disk layout; merging with a
    different count would strand stale rows in wrong buckets."""
    cfg = _cfg(tmp_path, buckets=4)
    _seed(spark, cfg)
    cfg8 = _cfg(tmp_path, buckets=8)
    with pytest.raises(ValueError, match="re-bucket"):
        merge_batch(spark, cfg8, _batch(spark, [
            (9, {"order_key": 3, "cust_key": 13, "status": "c",
                 "total_price": "3.00", "__deleted": "false"}),
        ]))


def test_gc_swap_crash_repair(spark, tmp_path):
    """A crash between gc_tombstones' two renames must not read as 'no
    state': reads repair the interrupted swap (complete or roll back)."""
    import shutil

    cfg = _cfg(tmp_path)
    _seed(spark, cfg)
    before = sorted(r.order_key for r in read_state(spark, cfg).collect())

    final = _state_path(cfg)
    # simulate: crash right after os.rename(final, old), tmp incomplete
    os.rename(final, final + "._gc_old")
    os.makedirs(final + "._gc_tmp")  # no _SUCCESS -> incomplete
    got = sorted(r.order_key for r in read_state(spark, cfg).collect())
    assert got == before  # rolled back, nothing lost

    # simulate: crash after renames started with a COMPLETED tmp
    shutil.copytree(final, final + "._gc_tmp", dirs_exist_ok=False)
    os.rename(final, final + "._gc_old")
    got = sorted(r.order_key for r in read_state(spark, cfg).collect())
    assert got == before  # swap completed forward


def test_transient_read_error_is_not_empty_state(spark, tmp_path):
    """A corrupt state read must RAISE (error-pause), never silently merge
    as if the state were empty."""
    cfg = _cfg(tmp_path)
    _seed(spark, cfg)
    # corrupt one stored parquet file
    for dp, _dn, fn in os.walk(_state_path(cfg)):
        for f in fn:
            if f.endswith(".parquet"):
                with open(os.path.join(dp, f), "wb") as fh:
                    fh.write(b"not parquet")
    with pytest.raises(Exception):
        merge_batch(spark, cfg, _batch(spark, [
            (9, {"order_key": 1, "cust_key": 11, "status": "z",
                 "total_price": "9.00", "__deleted": "false"}),
        ]))


def test_join_mv_dim_delta_reads_only_touched_buckets(spark, tmp_path):
    """A one-key dim delta must scan only its bucket of the dim state and
    of the view: every parquet scan over ``<state>/dim`` and ``<state>/mv``
    carries a ``_bucket`` partition filter (a filter on a recomputed
    bucket column prunes nothing)."""
    import re

    from mysql_cdc_debezium_starrocks_spark.streaming.join_mv import (
        JoinMVConfig,
        merge_join_mv_batch,
    )

    cfg = JoinMVConfig(
        state_dir=str(tmp_path / "jmv"),
        fact_key="order_key",
        fk="cust_key",
        dim_key="cust_key",
        dim_cols=("c_name",),
        buckets=8,
    )

    def dim(rows):
        return spark.createDataFrame(
            rows, "cust_key long, c_name string, _seq long, __deleted string"
        )

    merge_join_mv_batch(
        spark, cfg, dim_delta=dim([(k, f"n{k}", 1, "false") for k in range(20)])
    )
    merge_join_mv_batch(spark, cfg, fact_delta=spark.createDataFrame(
        [(o, o % 20, o, 2, "false") for o in range(60)],
        "order_key long, cust_key long, amount long, _seq long, __deleted string",
    ))

    store = spark._jsparkSession.sharedState().statusStore()

    def recent():  # newest executions, ascending id (the store evicts old ones)
        n = store.executionsCount()
        execs = store.executionsList(max(0, n - 50), 50)
        return [execs.apply(i) for i in range(execs.size())]

    last = max((e.executionId() for e in recent()), default=-1)
    merge_join_mv_batch(spark, cfg, dim_delta=dim([(3, "x", 5, "false")]))
    new = [e for e in recent() if e.executionId() > last]

    scanned = {"dim": 0, "mv": 0}
    for e in new:
        plan = e.physicalPlanDescription()
        for block in re.split(r"\n(?=\(\d+\) )", plan):
            if not block.startswith("(") or "Scan parquet" not in block.split("\n")[0]:
                continue
            loc = re.search(r"Location: .*\[(.*)\]", block)
            side = loc and os.path.basename(loc.group(1).rstrip("/"))
            if side not in scanned:
                continue
            scanned[side] += 1
            pf = re.search(r"PartitionFilters: \[(.*)\]", block)
            assert pf and "_bucket" in pf.group(1), (
                f"unpruned scan of {side} state:\n{block}"
            )
    assert scanned["dim"] >= 2 and scanned["mv"] >= 1, scanned


def test_zorder_survives_wide_value_ranges(spark, tmp_path):
    """Scaling must not overflow int64 for ~2^60-range columns (epoch
    micros, 60-bit hashes): z-values stay non-negative and clustering
    still prunes."""
    from mysql_cdc_debezium_starrocks_spark.storage import (
        clustered_file_ranges,
        pruned_fraction,
        write_clustered,
    )

    n = 10_000
    wide = spark.range(n).select(
        (F.col("id") * F.lit(115_292_150_460_684)).alias("a"),  # ~2^60 span
        F.pmod(F.col("id") * 7919, F.lit(10_000)).alias("b"),
    )
    out = str(tmp_path / "zc")
    write_clustered(wide, out, ["a", "b"], files=16)
    ranges = clustered_file_ranges(out, "a")
    lo = 0
    hi = 115_292_150_460_684 * (n // 10)  # lowest decile of a
    assert pruned_fraction(ranges, lo, hi) > 0.5


def test_zorder_four_columns_stay_in_sign_safe_bits(spark, tmp_path):
    """4 cluster columns must interleave within 63 bits — no z-value may
    land in the sign bit and sort before everything else."""
    from mysql_cdc_debezium_starrocks_spark.storage import zorder_key

    df = spark.range(5_000).select(
        F.col("id").alias("a"),
        (F.col("id") * 3).alias("b"),
        (F.col("id") * 7).alias("c"),
        (F.col("id") * 11).alias("d"),
    )
    z = df.select(zorder_key(df, ["a", "b", "c", "d"]).alias("z"))
    assert z.agg(F.min("z")).collect()[0][0] >= 0


def test_training_shards_deterministic_with_duplicate_keys(spark, tmp_path):
    """Rows sharing the shard key (chunk rows per doc) must lay out
    identically across runs — full-row tiebreak ordering."""
    from mysql_cdc_debezium_starrocks_spark.storage import write_training_shards

    rows = spark.range(2_000).select(
        (F.col("id") % 100).alias("doc_id"),
        F.pmod(F.col("id") * 104_729, F.lit(1_000_000)).alias("payload"),
    )
    outs = []
    for run in range(2):
        out = str(tmp_path / f"run{run}")
        write_training_shards(rows, out, key_col="doc_id", shards=4)
        per_shard = []
        for s in range(4):
            df = spark.read.parquet(os.path.join(out, f"_shard={s}"))
            per_shard.append([tuple(r) for r in df.collect()])
        outs.append(per_shard)
    assert outs[0] == outs[1]


def test_premeta_state_refuses_merge(spark, tmp_path):
    """State data with no _meta.json must refuse a merge instead of
    stamping the current cfg's layout over an unknown one (ADVICE r02 #1:
    a changed bucket modulus would be silently legitimized)."""
    cfg = _cfg(tmp_path)
    merge_batch(spark, cfg, _batch(spark, [(1, ROW1)]))
    os.remove(os.path.join(cfg.state_dir, "_meta.json"))  # legacy state
    with pytest.raises(ValueError, match="no _meta.json"):
        merge_batch(spark, cfg, _batch(spark, [(2, ROW1)]))


def test_theta_premeta_read_refuses_default_k(spark, tmp_path):
    """read_theta on pre-metadata contributions must not assume DEFAULT_K
    (ADVICE r02 #3) — but an explicit k unblocks legacy state."""
    from mysql_cdc_debezium_starrocks_spark.streaming.theta_stats import (
        read_theta,
        update_theta_batch,
    )

    state = str(tmp_path / "theta")
    batch = spark.range(100).select(F.col("id").cast("string").alias("k"))
    update_theta_batch(spark, state, batch, "k", 0, k=64)
    os.remove(os.path.join(state, "_meta.json"))  # legacy state
    with pytest.raises(ValueError, match="no _meta.json"):
        read_theta(spark, state)
    assert read_theta(spark, state, k=64).count() == 64


def test_secondary_index_premeta_lookup_falls_back(spark, tmp_path):
    """An index built before _meta.json existed must still serve lookups
    by inferring the modulus from the bucket layout (ADVICE r02 #4)."""
    from mysql_cdc_debezium_starrocks_spark.streaming.secondary_index import (
        build_secondary_index,
        lookup_by_index,
    )

    cfg = _cfg(tmp_path)
    merge_batch(spark, cfg, _batch(spark, [
        (1, ROW1),
        (2, {"order_key": 2, "cust_key": 12, "status": "b",
             "total_price": "2.00", "__deleted": "false"}),
    ]))
    idx_dir = build_secondary_index(spark, cfg, "status")
    with_meta = [r.order_key for r in
                 lookup_by_index(spark, cfg, "status", "b").collect()]
    os.remove(os.path.join(idx_dir, "_meta.json"))  # legacy index
    without_meta = [r.order_key for r in
                    lookup_by_index(spark, cfg, "status", "b").collect()]
    assert with_meta == without_meta == [2]


def test_hist_nan_counts_as_null(spark, tmp_path):
    """A NaN measure must be excluded from the histogram like NULL, not
    floor-cast into the lowest bin (ADVICE r02 #5: p50 skew)."""
    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import (
        merge_agg_mv_batch,
        read_agg_mv,
    )

    spec = {"q": ("hist", "x", 0.0, 200.0, 20)}
    rows = [("g", 100.0)] * 10 + [("g", math.nan)] * 10 + [("g", None)] * 5
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE")
    state = str(tmp_path / "mv")
    merge_agg_mv_batch(spark, state, df, ["g"], spec, 0)
    out = read_agg_mv(spark, state, ["g"], spec).collect()[0]
    assert out.q.n == 10  # NaN and NULL both uncounted
    assert out.q.p50 == pytest.approx(105.0)  # bin [100,110) midpoint


def test_agg_mv_refuses_folded_batch_id(spark, tmp_path):
    """A write at a batch id the committed baseline already folded lands in
    a dir every read skips: agg_mv refuses it instead of losing the rows."""
    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import (
        compact_agg_mv,
        merge_agg_mv_batch,
        read_agg_mv,
    )

    state, keys, spec = str(tmp_path / "mv"), ["g"], {"n": ("count", None)}

    def rows(n):
        return spark.range(n).select(F.lit("g").alias("g"))

    def total():
        return read_agg_mv(spark, state, keys, spec).collect()[0].n

    for b in range(4):
        merge_agg_mv_batch(spark, state, rows(10), keys, spec, b)
    compact_agg_mv(spark, state, keys, spec, keep_last=2)  # folds 0 and 1
    with pytest.raises(RuntimeError, match="already folded"):
        merge_agg_mv_batch(spark, state, rows(5), keys, spec, 0)
    assert total() == 40
    merge_agg_mv_batch(spark, state, rows(5), keys, spec, 4)  # a fresh id
    assert total() == 45


def test_scd2_view_skips_uncommitted_open_snapshot(spark, tmp_path):
    """An ``open/batch=<id>`` dir still being written (no ``_SUCCESS``)
    is not a snapshot: the history reader serves the newest committed one
    instead of trying to read the half-written dir."""
    from mysql_cdc_debezium_starrocks_spark.streaming.scd2 import (
        merge_scd2_batch,
        scd2_view,
    )

    state = str(tmp_path / "scd2")
    merge_scd2_batch(spark, state, _batch(spark, [
        (1, {"payload": ROW1}),
        (2, {"payload": {"order_key": 2, "cust_key": 12, "status": "b",
                         "total_price": "2.00", "__deleted": "false"}}),
    ]), 0)
    merge_scd2_batch(spark, state, _batch(spark, [
        (3, {"payload": dict(ROW1, status="a2")}),
    ]), 1)
    committed = sorted(map(tuple, scd2_view(spark, state).collect()))
    os.makedirs(os.path.join(state, "open", "batch=2", "_temporary", "0"))
    assert sorted(map(tuple, scd2_view(spark, state).collect())) == committed
    assert len(committed) == 3  # key 1: closed a + open a2; key 2: open b


def test_scd2_view_ignores_closed_batch_without_its_open_snapshot(
    spark, tmp_path
):
    """A batch writes ``closed/batch=<b>`` before ``open/batch=<b>``; a
    crash (or a reader) between the two must not see b's closed versions
    beside b-1's open rows — the view stays at batch b-1."""
    import shutil

    from mysql_cdc_debezium_starrocks_spark.streaming.scd2 import (
        merge_scd2_batch,
        scd2_view,
    )

    def view():
        return sorted(
            (r.status, r.is_current) for r in scd2_view(spark, state).collect()
        )

    state = str(tmp_path / "scd2")
    merge_scd2_batch(spark, state, _batch(spark, [(1, ROW1)]), 0)
    merge_scd2_batch(
        spark, state, _batch(spark, [(2, dict(ROW1, status="b"))]), 1
    )
    assert view() == [("a", False), ("b", True)]
    shutil.rmtree(os.path.join(state, "open", "batch=1"))
    assert view() == [("a", True)]
