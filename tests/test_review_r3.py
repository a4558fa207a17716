"""Round-3 review regressions (ADVICE.md r02) + the shared near-dup
artifact: pre-metadata state guards (materializer, theta), secondary-index
legacy-meta fallback, NaN-safe histogram binning, and the session-scoped
pair/component cache the batch curation family now shares.
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
)

SF = "/root/testdata/sf0.001"


def _cfg(tmp_path, **kw) -> CdcLoadConfig:
    return CdcLoadConfig(
        name="t_r3",
        source_dir=str(tmp_path / "events"),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        **kw,
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        [(seq, json.dumps(payload)) for seq, payload in rows],
        "`_seq` LONG, value STRING",
    )


ROW1 = {"order_key": 1, "cust_key": 11, "status": "a",
        "total_price": "1.00", "__deleted": "false"}


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
    os.remove(os.path.join(state, "theta", "_meta.json"))  # legacy state
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


def test_dup_pair_artifact_shared_across_consumers(spark):
    """The four curation consumers reuse ONE band-join pass per (session,
    dataset): the memo returns the same persisted frame, and the
    parquet-materialized form serves identical rows (VERDICT r02 next #1)."""
    from mysql_cdc_debezium_starrocks_spark.operators import dedup
    from mysql_cdc_debezium_starrocks_spark.operators._artifacts import clear

    clear()
    p1 = dedup.dedup_simhash_pairs(spark, SF)
    p2 = dedup.dedup_simhash_pairs(spark, SF)
    assert p1 is p2  # memo hit, not a recomputation
    assert p1.storageLevel.useMemory  # persisted for reuse
    c1 = dedup.shared_components(spark, SF)
    assert dedup.dedup_components(spark, SF) is c1
    expected = sorted((r.doc_a, r.doc_b) for r in p1.collect())
    assert expected  # fixture has near-dup pairs; the test is non-vacuous


def test_dup_pair_artifact_materialized_roundtrip(spark, tmp_path):
    """materialize_dup_artifacts writes the pair/component parquet and
    re-registers the parquet-backed frames; consumers read identical data."""
    from mysql_cdc_debezium_starrocks_spark.operators import dedup
    from mysql_cdc_debezium_starrocks_spark.operators._artifacts import clear

    clear()
    computed_pairs = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.dedup_simhash_pairs(spark, SF).collect()
    )
    computed_comp = sorted(
        (r.doc_id, r.component_id)
        for r in dedup.shared_components(spark, SF).collect()
    )
    paths = dedup.materialize_dup_artifacts(spark, SF, str(tmp_path / "art"))
    assert os.path.isdir(paths["pairs"]) and os.path.isdir(paths["components"])
    # memo now serves the parquet-backed frames — same rows, full schema
    assert sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.dedup_simhash_pairs(spark, SF).collect()
    ) == computed_pairs
    assert sorted(
        (r.doc_id, r.component_id)
        for r in dedup.dedup_components(spark, SF).collect()
    ) == computed_comp
    clear()
