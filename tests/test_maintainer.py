"""The streaming-maintainer skeleton (``streaming._state.start_maintainer``):
the trigger choice every maintainer shares, the compaction cadence, and the
``keep_last >= 1`` replay-safety floor every ``compact_*`` inherits from
``fold_verbatim``.
"""

from __future__ import annotations

import importlib
import os

import pytest

from mysql_cdc_debezium_starrocks_spark.streaming._state import start_maintainer


def _put(src: str, name: str, lines: list[str]) -> None:
    """Write a file into the source dir atomically (a running file source
    must never list a half-written file)."""
    tmp = os.path.join(os.path.dirname(src), f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(src, name))


def _text_stream(spark, src: str):
    return spark.readStream.option("maxFilesPerTrigger", 1).text(src)


def _recorder(log: list):
    def apply(df, batch_id: int) -> None:
        log.append(("apply", batch_id, sorted(r.value for r in df.collect())))

    return apply


def test_none_trigger_drains_and_stops(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _put(src, "a.txt", ["a1", "a2"])
    _put(src, "b.txt", ["b1"])
    log: list = []
    q = start_maintainer(
        _text_stream(spark, src),
        _recorder(log),
        str(tmp_path / "ckpt"),
        name="maintainer_drain",
    )
    assert q.name == "maintainer_drain"
    assert q.awaitTermination(120), "availableNow must stop once drained"
    assert not q.isActive
    assert sorted(v for _, _, vals in log for v in vals) == ["a1", "a2", "b1"]


def test_zero_trigger_keeps_running_and_sees_later_files(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _put(src, "a.txt", ["a1"])
    log: list = []
    q = start_maintainer(
        _text_stream(spark, src), _recorder(log), str(tmp_path / "ckpt"),
        trigger_seconds=0,
    )
    try:
        q.processAllAvailable()
        assert q.isActive, "trigger_seconds=0 is processingTime, not a drain"
        _put(src, "b.txt", ["b1"])
        q.processAllAvailable()
        assert q.isActive
        assert sorted(v for _, _, vals in log for v in vals) == ["a1", "b1"]
    finally:
        q.stop()


def test_compact_runs_after_apply_on_every_nth_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(4):
        _put(src, f"f{i}.txt", [f"r{i}"])
    log: list = []

    def compact(session) -> None:
        assert session is not None
        log.append(("compact", log[-1][1]))

    q = start_maintainer(
        _text_stream(spark, src),
        _recorder(log),
        str(tmp_path / "ckpt"),
        compact=compact,
        compact_every=2,
    )
    assert q.awaitTermination(120)
    assert [e[:2] for e in log] == [
        ("apply", 0), ("apply", 1), ("compact", 1),
        ("apply", 2), ("apply", 3), ("compact", 3),
    ]


_S = "mysql_cdc_debezium_starrocks_spark.streaming."
COMPACTORS = [
    ("agg_mv", "compact_agg_mv", (["g"], {"n": ("count", None)})),
    ("ann_ingest", "compact_ann_ingest", ()),
    ("budget_ingest", "compact_budget_ingest", ()),
    ("cusum_ingest", "compact_cusum_ingest", ()),
    ("dedup_ingest", "compact_dedup_ingest", ()),
    ("hll_ingest", "compact_hll_ingest", ()),
    ("mix_ingest", "compact_mix_ingest", ()),
    ("phash_ingest", "compact_phash_ingest", ()),
    ("rollup", "compact_rollup", ()),
    ("theta_stats", "compact_theta", ()),
]


@pytest.mark.parametrize(
    "module,fn,args", COMPACTORS, ids=[c[1] for c in COMPACTORS]
)
def test_compact_refuses_keep_last_zero(spark, tmp_path, module, fn, args):
    """keep_last=0 would fold the newest contribution dir — possibly a
    partial write the stream will replay into a dir readers then exclude."""
    compact = getattr(importlib.import_module(_S + module), fn)
    with pytest.raises(ValueError, match="keep_last"):
        compact(spark, str(tmp_path / "state"), *args, keep_last=0)
