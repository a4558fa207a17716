"""Streaming CUSUM maintainer (cusum_ingest): the incremental twin of
ts_changepoint_cusum.  Pins the carry contract (scores over batched
ingest == the closed form over the concatenated series == the textbook
recursion), replay idempotence, bounded state under the retention hook,
and the foreachBatch wiring.
"""

from __future__ import annotations

import json
import math
import os
from collections import defaultdict

from mysql_cdc_debezium_starrocks_spark.operators.stats import CUSUM_K_MILLI
from mysql_cdc_debezium_starrocks_spark.streaming._state import numbered_ids
from mysql_cdc_debezium_starrocks_spark.streaming.cusum_ingest import (
    calibrate_cusum,
    compact_cusum_ingest,
    cusum_alarms,
    cusum_scores,
    ingest_cusum_batch,
)

N_BATCHES = 20
HOURS_PER_BATCH = 4
COMPACT_EVERY = 5
KEEP_LAST = 2


def _tdiv(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _series():
    """Two types: 'steady' (noise around 10) and 'shifted' (level jump
    from 10 to 16 at hour 40 — the sustained change CUSUM must flag while
    pointwise z-scores stay quiet)."""
    out = []
    for h in range(N_BATCHES * HOURS_PER_BATCH):
        out.append(("steady", h, 10 + (h * 7) % 3))
        base = 10 if h < 40 else 16
        out.append(("shifted", h, base + (h * 5) % 3))
    return out


def _calib_rows():
    # calibration = the first 24 hours (pre-shift regime for both types)
    return [(t, h, c) for (t, h, c) in _series() if h < 24]


def _to_df(spark, rows):
    # hour index encoded as an integer column: the maintainer only needs
    # an orderable hour key, and integers keep the python replay exact
    return spark.createDataFrame(rows, "event_type string, hr long, cnt long")


def _expected_scores(k_milli=CUSUM_K_MILLI):
    """The textbook recursion s_t = max(0, s_{t-1} + z_t - k) over the full
    series, scored against the calibration moments."""
    calib = defaultdict(list)
    for t, _h, c in _calib_rows():
        calib[t].append(c)
    mom = {}
    for t, xs in calib.items():
        n = len(xs)
        mean = _tdiv(sum(xs), n)
        var = _tdiv(sum(x * x for x in xs), n) - mean * mean
        mom[t] = (mean, int(math.floor(math.sqrt(float(var)))))
    s = defaultdict(int)
    expect = {}
    for t, h, c in sorted(_series(), key=lambda r: (r[0], r[1])):
        mean, sigma = mom[t]
        z = _tdiv((c - mean) * 1000, max(sigma, 1))
        s[t] = max(0, s[t] + z - k_milli)
        expect[(t, h)] = s[t]
    return expect


def _ingest_all(spark, state, compact=False):
    calibrate_cusum(state, _to_df(spark, _calib_rows()))
    rows = _series()
    for i in range(N_BATCHES):
        lo, hi = i * HOURS_PER_BATCH, (i + 1) * HOURS_PER_BATCH
        batch = [(t, h, c) for (t, h, c) in rows if lo <= h < hi]
        ingest_cusum_batch(spark, state, _to_df(spark, batch), i)
        if compact and i % COMPACT_EVERY == COMPACT_EVERY - 1:
            compact_cusum_ingest(spark, state, KEEP_LAST)


def test_batched_scores_equal_textbook_recursion(spark, tmp_path):
    state = str(tmp_path / "cusum")
    _ingest_all(spark, state)
    got = {
        (r.event_type, r.hr): r.cusum_milli
        for r in cusum_scores(spark, state).collect()
    }
    assert got == _expected_scores()
    # the shifted type actually alarms after the level change; steady never
    alarms = {
        (r.event_type, r.hr) for r in cusum_alarms(spark, state).collect()
    }
    assert alarms and all(t == "shifted" and h >= 40 for t, h in alarms)
    assert max(got[("steady", h)] for h in range(N_BATCHES * HOURS_PER_BATCH)) <= 5000


def test_replay_of_newest_batch_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "cusum")
    _ingest_all(spark, state)
    before = sorted(map(tuple, cusum_scores(spark, state).collect()))
    lo = (N_BATCHES - 1) * HOURS_PER_BATCH
    batch = [(t, h, c) for (t, h, c) in _series() if h >= lo]
    ingest_cusum_batch(spark, state, _to_df(spark, batch), N_BATCHES - 1)
    after = sorted(map(tuple, cusum_scores(spark, state).collect()))
    assert after == before


def test_compaction_bounded_and_equal(spark, tmp_path):
    compacted = str(tmp_path / "c")
    control = str(tmp_path / "u")
    _ingest_all(spark, compacted, compact=True)
    _ingest_all(spark, control, compact=False)

    assert (
        len(numbered_ids(os.path.join(compacted, "scores")))
        <= KEEP_LAST + COMPACT_EVERY
    )
    assert (
        len(numbered_ids(os.path.join(compacted, "carry")))
        <= KEEP_LAST + COMPACT_EVERY
    )
    assert len(numbered_ids(os.path.join(control, "scores"))) == N_BATCHES

    got_c = sorted(map(tuple, cusum_scores(spark, compacted).collect()))
    got_u = sorted(map(tuple, cusum_scores(spark, control).collect()))
    assert got_c == got_u
    # replay of the newest batch against the COMPACTED state is a no-op
    lo = (N_BATCHES - 1) * HOURS_PER_BATCH
    batch = [(t, h, c) for (t, h, c) in _series() if h >= lo]
    ingest_cusum_batch(spark, compacted, _to_df(spark, batch), N_BATCHES - 1)
    assert sorted(map(tuple, cusum_scores(spark, compacted).collect())) == got_c


def test_streaming_path(spark, tmp_path):
    """foreachBatch wiring: a 2-file rollup stream drained one file per
    trigger leaves the same scores as direct batch calls."""
    from mysql_cdc_debezium_starrocks_spark.streaming.cusum_ingest import (
        start_cusum_ingest,
    )

    state = str(tmp_path / "stream")
    calibrate_cusum(state, _to_df(spark, _calib_rows()))
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = _series()
    mid = N_BATCHES * HOURS_PER_BATCH // 2
    halves = [
        [(t, h, c) for (t, h, c) in rows if h < mid],
        [(t, h, c) for (t, h, c) in rows if h >= mid],
    ]
    for i, half in enumerate(halves):
        with open(f"{src}/part{i}.json", "w") as f:
            for t, h, c in half:
                f.write(json.dumps({"event_type": t, "hr": h, "cnt": c}) + "\n")
        os.utime(f"{src}/part{i}.json", (1700000000 + i, 1700000000 + i))

    stream = (
        spark.readStream.schema("event_type string, hr long, cnt long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = start_cusum_ingest(spark, stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    direct = str(tmp_path / "direct")
    calibrate_cusum(direct, _to_df(spark, _calib_rows()))
    for i, half in enumerate(halves):
        ingest_cusum_batch(spark, direct, _to_df(spark, half), i)
    got_s = sorted(map(tuple, cusum_scores(spark, state).collect()))
    got_d = sorted(map(tuple, cusum_scores(spark, direct).collect()))
    assert got_s == got_d


def test_keep_last_1_still_retains_replay_carry(spark, tmp_path):
    """Compaction at keep_last=1 must still keep the newest batch's PRIOR
    carry (floor of 2): a crash-replay of the newest batch against the
    just-compacted state reproduces identical scores instead of silently
    resetting the CUSUM state (review finding, round 6)."""
    state = str(tmp_path / "cusum")
    calibrate_cusum(state, _to_df(spark, _calib_rows()))
    rows = _series()
    for i in range(6):
        lo, hi = i * HOURS_PER_BATCH, (i + 1) * HOURS_PER_BATCH
        ingest_cusum_batch(
            spark, state,
            _to_df(spark, [(t, h, c) for (t, h, c) in rows if lo <= h < hi]),
            i,
        )
    compact_cusum_ingest(spark, state, keep_last=1)
    assert numbered_ids(os.path.join(state, "carry")) == [4, 5]
    before = sorted(map(tuple, cusum_scores(spark, state).collect()))
    lo = 5 * HOURS_PER_BATCH
    ingest_cusum_batch(
        spark, state,
        _to_df(spark, [(t, h, c) for (t, h, c) in rows
                       if lo <= h < lo + HOURS_PER_BATCH]),
        5,
    )  # crash-replay of the newest batch: must be a byte-identical no-op
    assert sorted(map(tuple, cusum_scores(spark, state).collect())) == before


def test_replay_with_pruned_prior_carry_is_refused(spark, tmp_path):
    """A replay whose prior carry dir is gone must raise, never fall back
    to the zero calibration carry (which would reset the running state)."""
    import shutil

    import pytest

    state = str(tmp_path / "cusum")
    calibrate_cusum(state, _to_df(spark, _calib_rows()))
    rows = _series()
    for i in range(4):
        lo, hi = i * HOURS_PER_BATCH, (i + 1) * HOURS_PER_BATCH
        ingest_cusum_batch(
            spark, state,
            _to_df(spark, [(t, h, c) for (t, h, c) in rows if lo <= h < hi]),
            i,
        )
    # simulate an over-aggressive manual prune of every prior carry
    for i in (0, 1, 2):
        shutil.rmtree(os.path.join(state, "carry", f"batch={i}"))
    lo = 3 * HOURS_PER_BATCH
    with pytest.raises(RuntimeError, match="prior carry dir was pruned"):
        ingest_cusum_batch(
            spark, state,
            _to_df(spark, [(t, h, c) for (t, h, c) in rows
                           if lo <= h < lo + HOURS_PER_BATCH]),
            3,
        )


def test_replay_of_batch_zero_falls_back_to_calibration_carry(
    spark, tmp_path
):
    """Batch 0's true prior IS the zero calibration carry: a crash-replay
    of batch 0 (carry/batch=0 written but the checkpoint commit lost) must
    be a byte-identical no-op that the stream can continue past — not a
    permanent 'prior carry was pruned' wedge (advisor finding, round 6:
    the pruned-prior refusal only applies when a numbered prior MUST have
    existed, i.e. batch_id > 0)."""
    state = str(tmp_path / "cusum")
    calibrate_cusum(state, _to_df(spark, _calib_rows()))
    rows = _series()
    batch0 = [(t, h, c) for (t, h, c) in rows if h < HOURS_PER_BATCH]
    ingest_cusum_batch(spark, state, _to_df(spark, batch0), 0)
    before = sorted(map(tuple, cusum_scores(spark, state).collect()))
    ingest_cusum_batch(spark, state, _to_df(spark, batch0), 0)  # replay
    assert sorted(map(tuple, cusum_scores(spark, state).collect())) == before
    # the resumed stream stays exact past the replay
    b1 = [
        (t, h, c)
        for (t, h, c) in rows
        if HOURS_PER_BATCH <= h < 2 * HOURS_PER_BATCH
    ]
    ingest_cusum_batch(spark, state, _to_df(spark, b1), 1)
    expect = {
        k: v
        for k, v in _expected_scores().items()
        if k[1] < 2 * HOURS_PER_BATCH
    }
    got = {
        (r.event_type, r.hr): r.cusum_milli
        for r in cusum_scores(spark, state).collect()
    }
    assert got == expect


def test_replay_of_folded_scores_batch_is_refused(spark, tmp_path):
    """The shared folded-id guard: replaying a batch whose scores the
    committed baseline absorbed must be refused loudly."""
    import pytest

    state = str(tmp_path / "cusum")
    calibrate_cusum(state, _to_df(spark, _calib_rows()))
    rows = _series()
    for i in range(6):
        lo, hi = i * HOURS_PER_BATCH, (i + 1) * HOURS_PER_BATCH
        ingest_cusum_batch(
            spark, state,
            _to_df(spark, [(t, h, c) for (t, h, c) in rows if lo <= h < hi]),
            i,
        )
    compact_cusum_ingest(spark, state, keep_last=2)  # folds scores 0..3
    with pytest.raises(RuntimeError, match="compaction ran ahead"):
        ingest_cusum_batch(
            spark, state, _to_df(spark, [("steady", 0, 10)]), 0
        )
