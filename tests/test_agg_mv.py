"""Generic incremental aggregate MV (streaming/agg_mv.py): incremental ==
one-shot for every mergeable aggregate class, holistic aggregates refused,
replay idempotent, E2E under foreachBatch.
"""

import pytest
from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.streaming._state import numbered_ids
from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import (
    _CONTRIB,
    merge_agg_mv_batch,
    read_agg_mv,
    start_agg_mv_load,
)

SF = "/root/testdata/sf0.001"
KEYS = ["o_orderstatus"]
SPEC = {
    "n": ("count", None),
    "total": ("sum", "o_totalprice"),
    "lo": ("min", "o_totalprice"),
    "hi": ("max", "o_totalprice"),
    "avg_price": ("avg", "o_totalprice"),
    "custs": ("ndv", "o_custkey"),
}
# hist kept in its own spec: its extra partial columns perturb the double-sum
# fold order, and the legacy tests assert bit-exact float equality across
# compaction (valid only while the plan shape is byte-stable).
HSPEC = {"n": ("count", None), "price_q": ("hist", "o_totalprice", 0.0, 500_000.0, 50)}
_HIST_W = 500_000.0 / 50


def _thirds(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    return [o.filter(f"o_orderkey % 3 = {i}") for i in range(3)]


def test_incremental_equals_oneshot(spark, tmp_path):
    state = str(tmp_path / "mv")
    for i, part in enumerate(_thirds(spark)):
        merge_agg_mv_batch(spark, state, part, KEYS, SPEC, i)
    got = {
        r["o_orderstatus"]: r for r in read_agg_mv(spark, state, KEYS, SPEC).collect()
    }

    o = spark.read.parquet(f"{SF}/orders.parquet")
    want = {
        r["o_orderstatus"]: r
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("total"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.avg("o_totalprice").alias("avg_price"),
            F.countDistinct("o_custkey").alias("custs"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        g, w = got[k], want[k]
        assert g["n"] == w["n"] and g["lo"] == w["lo"] and g["hi"] == w["hi"]
        assert g["total"] == pytest.approx(w["total"], rel=1e-12)
        assert g["avg_price"] == pytest.approx(w["avg_price"], rel=1e-12)
        assert abs(g["custs"] - w["custs"]) <= max(2, 0.05 * w["custs"])


def test_hist_quantiles_within_bin_width(spark, tmp_path):
    """The mergeable histogram sketch's p50/p95/p99 land within one bin
    width of the exact (holistic) percentiles, incrementally maintained."""
    state = str(tmp_path / "mv")
    for i, part in enumerate(_thirds(spark)):
        merge_agg_mv_batch(spark, state, part, KEYS, HSPEC, i)
    got = {
        r["o_orderstatus"]: r["price_q"]
        for r in read_agg_mv(spark, state, KEYS, HSPEC).collect()
    }
    o = spark.read.parquet(f"{SF}/orders.parquet")
    exact = {
        r["o_orderstatus"]: r
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.count("o_totalprice").alias("n"),
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for k, e in exact.items():
        g = got[k]
        assert g["n"] == e["n"]
        for q in ("p50", "p95", "p99"):
            assert abs(g[q] - e[q]) <= _HIST_W, (k, q, g[q], e[q])


def test_hist_survives_compaction_and_replay_exactly(spark, tmp_path):
    """Histogram partials are integer counters, so the view is bit-exact
    across compaction and crash-replay (no float fold-order sensitivity)."""
    import os

    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import (
        compact_agg_mv,
    )

    state = str(tmp_path / "mv")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    parts = [o.filter(f"o_orderkey % 5 = {i}") for i in range(5)]
    for i, part in enumerate(parts):
        merge_agg_mv_batch(spark, state, part, KEYS, HSPEC, i)
    before = sorted(map(tuple, read_agg_mv(spark, state, KEYS, HSPEC).collect()))
    compact_agg_mv(spark, state, KEYS, HSPEC, keep_last=2)
    after = sorted(map(tuple, read_agg_mv(spark, state, KEYS, HSPEC).collect()))
    assert before == after
    merge_agg_mv_batch(spark, state, parts[4], KEYS, HSPEC, 4)  # crash replay
    replay = sorted(map(tuple, read_agg_mv(spark, state, KEYS, HSPEC).collect()))
    assert replay == after
    remaining = numbered_ids(os.path.join(state, _CONTRIB))
    assert len(remaining) == 2


def test_hist_bad_spec_refused(spark, tmp_path):
    for bad in (
        {"h": ("hist", "x")},  # missing bounds
        {"h": ("hist", "x", 10.0, 10.0, 8)},  # lo == hi
        {"h": ("hist", "x", 0.0, 1.0, 100000)},  # too many bins
    ):
        with pytest.raises(ValueError):
            merge_agg_mv_batch(
                spark, str(tmp_path / "mv"), spark.range(1), ["id"], bad, 0
            )


def test_holistic_aggregate_refused(spark, tmp_path):
    with pytest.raises(ValueError, match="non-mergeable"):
        merge_agg_mv_batch(
            spark,
            str(tmp_path / "mv"),
            spark.range(1),
            ["id"],
            {"p50": ("median", "id")},
            0,
        )


def test_replay_idempotent(spark, tmp_path):
    state = str(tmp_path / "mv")
    parts = _thirds(spark)
    for i, part in enumerate(parts):
        merge_agg_mv_batch(spark, state, part, KEYS, SPEC, i)
    spec_nosketch = {k: v for k, v in SPEC.items() if v[0] != "ndv"}
    before = sorted(
        map(tuple, read_agg_mv(spark, state, KEYS, spec_nosketch).collect())
    )
    merge_agg_mv_batch(spark, state, parts[2], KEYS, SPEC, 2)  # crash replay
    after = sorted(
        map(tuple, read_agg_mv(spark, state, KEYS, spec_nosketch).collect())
    )
    assert before == after


def test_streaming_e2e(spark, tmp_path):
    import os

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    os.makedirs(src)
    parts = _thirds(spark)
    schema = parts[0].schema
    parts[0].write.mode("append").parquet(src)
    parts[1].unionByName(parts[2]).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_agg_mv_load(
        spark, stream, state, str(tmp_path / "ckpt"), KEYS, SPEC,
    )
    q.awaitTermination(120)
    view = read_agg_mv(spark, state, KEYS, SPEC)
    total = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert view.agg(F.sum("n")).collect()[0][0] == total


def test_compaction_preserves_view_and_bounds_dirs(spark, tmp_path):
    import os

    from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import (
        compact_agg_mv,
    )

    state = str(tmp_path / "mv")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    parts = [o.filter(f"o_orderkey % 5 = {i}") for i in range(5)]
    for i, part in enumerate(parts):
        merge_agg_mv_batch(spark, state, part, KEYS, SPEC, i)
    spec_nosketch = {k: v for k, v in SPEC.items() if v[0] != "ndv"}
    before = sorted(
        map(tuple, read_agg_mv(spark, state, KEYS, spec_nosketch).collect())
    )
    full_before = sorted(
        map(tuple, read_agg_mv(spark, state, KEYS, SPEC).drop(*[
            k for k in SPEC if SPEC[k][0] == "ndv"
        ]).collect())
    )
    compact_agg_mv(spark, state, KEYS, SPEC, keep_last=2)
    after = sorted(
        map(tuple, read_agg_mv(spark, state, KEYS, spec_nosketch).collect())
    )
    assert before == after
    # ndv path survives compaction too (sketches re-union)
    ndv_after = {
        r["o_orderstatus"]: r["custs"]
        for r in read_agg_mv(spark, state, KEYS, SPEC).collect()
    }
    exact = {
        r["o_orderstatus"]: r["c"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("c"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(ndv_after[k] - v) <= max(2, 0.05 * v)
    # folded contrib dirs removed; only keep_last remain
    remaining = numbered_ids(os.path.join(state, _CONTRIB))
    assert len(remaining) == 2
    # replay of the newest (unfolded) batch stays idempotent post-compaction
    merge_agg_mv_batch(spark, state, parts[4], KEYS, SPEC, 4)
    replay = sorted(
        map(tuple, read_agg_mv(spark, state, KEYS, spec_nosketch).collect())
    )
    assert replay == after
    assert full_before is not None
