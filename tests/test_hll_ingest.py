"""Streaming HLL maintainer (hll_ingest): the incremental twin of
sketch_hll_portable.  Soaks the batch-keyed register store for 52 batches
with the compaction hook on, pins the mergeability contract (running
estimate == batch estimate over the union of all rows), replay idempotence,
and the foreachBatch wiring.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.operators.sketches import (
    hll_estimate,
    hll_registers,
)
from mysql_cdc_debezium_starrocks_spark.streaming._state import numbered_ids
from mysql_cdc_debezium_starrocks_spark.streaming.agg_mv import _CONTRIB
from mysql_cdc_debezium_starrocks_spark.streaming.hll_ingest import (
    compact_hll_ingest,
    ingest_hll_batch,
    running_estimate,
    running_registers,
)

N_BATCHES = 52
COMPACT_EVERY = 5
KEEP_LAST = 2


def _batch(spark, i: int):
    """8 keys per batch with 50% overlap into the previous batch — the
    distinct count grows slower than rows ingested, which is exactly what
    the sketch must track."""
    lo = i * 4
    return spark.createDataFrame(
        [(k,) for k in range(lo, lo + 8)], "key long"
    )


def test_hll_ingest_soak_bounded_merge_replay(spark, tmp_path):
    state = str(tmp_path / "hll")
    all_keys = set()
    for i in range(N_BATCHES):
        ingest_hll_batch(state, _batch(spark, i), i)
        all_keys.update(range(i * 4, i * 4 + 8))
        if i % COMPACT_EVERY == COMPACT_EVERY - 1:
            compact_hll_ingest(spark, state, KEEP_LAST)

    # 1. bounded state: live dirs O(keep_last), not O(N_BATCHES)
    live = len(numbered_ids(os.path.join(state, _CONTRIB)))
    assert live <= COMPACT_EVERY + KEEP_LAST

    # 2. mergeability: the running sketch equals the batch sketch over the
    #    union of every row ever ingested (registers AND estimate)
    union = spark.createDataFrame([(k,) for k in sorted(all_keys)], "key long")
    whole = {
        (r.idx, r.mr) for r in hll_registers(union, F.col("key")).collect()
    }
    got_regs = {
        (r.idx, r.mr) for r in running_registers(spark, state).collect()
    }
    assert got_regs == whole
    batch_est = hll_estimate(hll_registers(union, F.col("key"))).collect()[0]
    run_est = running_estimate(spark, state).collect()[0]
    assert run_est.asDict() == batch_est.asDict()

    # 3. the estimate is within the HLL error envelope of the truth
    n = len(all_keys)
    assert abs(run_est.est_hll - n) / n < 0.13  # 4 sigma at m=1024

    # 4. replay idempotence: re-running the newest batch changes nothing
    before = got_regs
    ingest_hll_batch(state, _batch(spark, N_BATCHES - 1), N_BATCHES - 1)
    after = {
        (r.idx, r.mr) for r in running_registers(spark, state).collect()
    }
    assert after == before


def test_hll_ingest_equals_uncompacted_control(spark, tmp_path):
    """Folding is a pure representation change: compacted and uncompacted
    stores yield identical registers after the same batches."""
    c, u = str(tmp_path / "c"), str(tmp_path / "u")
    for i in range(17):
        for d in (c, u):
            ingest_hll_batch(d, _batch(spark, i * 3), i)
        if i % 4 == 3:
            compact_hll_ingest(spark, c, KEEP_LAST)
    rc = {(r.idx, r.mr) for r in running_registers(spark, c).collect()}
    ru = {(r.idx, r.mr) for r in running_registers(spark, u).collect()}
    assert rc == ru


def test_hll_ingest_streaming_path(spark, tmp_path):
    """foreachBatch wiring: a 2-file key stream drained one file per
    trigger leaves the same registers as direct batch calls."""
    from mysql_cdc_debezium_starrocks_spark.streaming.hll_ingest import (
        start_hll_ingest,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    halves = [list(range(0, 150)), list(range(100, 260))]
    for i, half in enumerate(halves):
        with open(f"{src}/part{i}.json", "w") as f:
            for k in half:
                f.write(json.dumps({"key": k}) + "\n")
        os.utime(f"{src}/part{i}.json", (1700000000 + i, 1700000000 + i))

    stream = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    state = str(tmp_path / "hll_stream")
    q = start_hll_ingest(
        spark,
        stream,
        state,
        str(tmp_path / "ckpt"),
        compact_every=2,
        keep_last=1,
    )
    q.awaitTermination(120)

    direct = str(tmp_path / "hll_direct")
    for i, half in enumerate(halves):
        ingest_hll_batch(
            direct,
            spark.createDataFrame([(k,) for k in half], "key long"),
            i,
        )
    rs = {(r.idx, r.mr) for r in running_registers(spark, state).collect()}
    rd = {(r.idx, r.mr) for r in running_registers(spark, direct).collect()}
    assert rs == rd


def test_hll_bitlen_ladder_property():
    """The portable CASE-ladder bit-length equals int.bit_length for every
    representable remainder — evaluated through DuckDB (the same SQL text
    Spark codegens), boundary values plus a hypothesis sweep."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_cdc_debezium_starrocks_spark.operators.sketches import (
        _HLL_REM_BITS,
        _bitlen_case,
    )

    con = duckdb.connect()
    expr = _bitlen_case("x")

    def eval_ladder(vals):
        rows = ", ".join(f"({v})" for v in vals)
        return [
            r[0]
            for r in con.execute(
                f"SELECT {expr} FROM (VALUES {rows}) AS t(x)"
            ).fetchall()
        ]

    edges = [0, 1, 2, 3, (1 << _HLL_REM_BITS) - 1] + [
        b
        for k in range(1, _HLL_REM_BITS)
        for b in ((1 << k) - 1, 1 << k, (1 << k) + 1)
    ]
    edges = sorted({v for v in edges if v < (1 << _HLL_REM_BITS)})
    assert eval_ladder(edges) == [v.bit_length() for v in edges]

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.integers(0, (1 << _HLL_REM_BITS) - 1), min_size=1,
                    max_size=50))
    def sweep(vals):
        assert eval_ladder(vals) == [v.bit_length() for v in vals]

    sweep()
