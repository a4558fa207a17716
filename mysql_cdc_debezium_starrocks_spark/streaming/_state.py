"""The streaming-maintainer skeleton every incremental module shares: the
query start path (:func:`start_maintainer`) and the two batch-keyed state
layouts — snapshot chains (``<state>/<sub>/batch=<id>`` full copy-on-write
snapshots, the newest few kept) and contribution stores
(``<state>/<sub>/batch=<id>`` contribution dirs folded into
``<state>/<sub>/baseline/v=<k>`` committed baselines).

One definition instead of a per-module copy: a future layout or trigger
change (object storage, different dir scheme) lands here once.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Callable


def trigger_args(trigger_seconds: int | None) -> dict:
    """``DataStreamWriter.trigger`` kwargs: None drains what is available
    and stops (``availableNow``); any int, 0 included, is a running
    ``processingTime`` query."""
    if trigger_seconds is None:
        return {"availableNow": True}
    return {"processingTime": f"{trigger_seconds} seconds"}


def start_maintainer(
    source,
    apply: Callable,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    compact: Callable | None = None,
    compact_every: int | None = None,
    name: str | None = None,
):
    """Start ``source`` as a ``foreachBatch`` query running ``apply(df,
    batch_id)`` per micro-batch, offsets checkpointed at ``checkpoint_dir``;
    returns the StreamingQuery (caller owns its lifecycle).

    ``compact(spark)`` is the retention hook: it runs after ``apply`` on
    batch ids ``compact_every - 1``, ``2 * compact_every - 1``, ... —
    inside ``foreachBatch``, so it is serialized with the merges by
    construction.  Compactors fold through :func:`fold_verbatim`, whose
    ``keep_last >= 1`` keeps every dir a crash-replay can touch live.
    """

    def _batch(df, batch_id: int) -> None:
        apply(df, batch_id)
        if compact is not None and compact_every and (
            batch_id % compact_every == compact_every - 1
        ):
            compact(df.sparkSession)

    writer = source.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if name is not None:
        writer = writer.queryName(name)
    return writer.trigger(**trigger_args(trigger_seconds)).start()


def numbered_ids(
    root: str, prefix: str = "batch", require_marker: str | None = None
) -> list[int]:
    """Sorted NUMERIC ids of ``<prefix>=<n>`` children of ``root``.

    Missing ``root`` means no state yet -> [].  Non-matching entries
    (tmp dirs, _SUCCESS files, foreign partitions) are ignored.  With
    ``require_marker``, only dirs containing that file count (commit
    markers: ``_SUCCESS``, ``_COMMITTED``) — uncommitted crash leftovers
    are invisible to readers.

    Numeric ordering is load-bearing: a lexicographic listdir sort puts
    ``v=9`` after ``v=10`` and would make a baseline reader resurrect an
    old version once ids reach two digits.
    """
    if not os.path.isdir(root):
        return []
    pat = re.compile(re.escape(prefix) + r"=(\d+)")
    return sorted(
        int(m.group(1))
        for d in os.listdir(root)
        if (m := pat.fullmatch(d))
        and (
            require_marker is None
            or os.path.exists(os.path.join(root, d, require_marker))
        )
    )


# ---------------------------------------------------------------------------
# Snapshot chains: stores where each batch writes a FULL snapshot derived
# from the previous one plus the batch rows (a rolling summary, an
# open-version table, a running carry) to <root>/batch=<id>.  A snapshot
# counts only once Spark's job-commit marker (_SUCCESS) is in it: a write
# in flight or a crash leftover is invisible to every read, prior lookup
# and prune.  Batch b reads only its prior (the newest committed id below
# b) and overwrites its own dir, so a crash-replay of b regenerates an
# identical snapshot.
# ---------------------------------------------------------------------------


def snapshot_ids(root: str) -> list[int]:
    """Committed snapshot ids under ``root``, sorted numerically."""
    return numbered_ids(root, require_marker="_SUCCESS")


def snapshot_path(root: str, batch_id: int) -> str:
    return os.path.join(root, f"batch={batch_id}")


def newest_snapshot(root: str, below: int | None = None) -> str | None:
    """Path of the newest committed snapshot — with ``below``, the newest
    below that batch id (the batch's prior) — or None."""
    ids = [i for i in snapshot_ids(root) if below is None or i < below]
    return snapshot_path(root, ids[-1]) if ids else None


def prune_snapshots(root: str, keep: int) -> None:
    """Delete all but the newest ``keep`` committed snapshots (best
    effort: a crash mid-sweep leaves extra dirs for the next one)."""
    for i in snapshot_ids(root)[:-keep]:
        shutil.rmtree(snapshot_path(root, i), ignore_errors=True)


def write_snapshot(df, root: str, batch_id: int, keep: int | None = 3) -> None:
    """Write ``df`` as snapshot ``batch_id`` (overwrite: a replay rewrites
    it), then keep the newest ``keep`` committed snapshots; ``keep=None``
    leaves pruning to the maintainer's compaction hook.  ``df`` must not
    read a snapshot the prune can delete — materialize it first."""
    df.write.mode("overwrite").parquet(snapshot_path(root, batch_id))
    if keep is not None:
        prune_snapshots(root, keep)


# ---------------------------------------------------------------------------
# Verbatim contribution folding: the generic retention hook for batch-keyed
# stores whose rows need no re-aggregation (or a schema-preserving one).
# Every compacting maintainer folds through it, so all share one
# crash-safety argument:
#   <root>/batch=<id>/...            live contribution dirs
#   <root>/baseline/v=<k>/data/...   folded rows
#   <root>/baseline/v=<k>/_FOLDED    JSON manifest of absorbed batch ids
#   <root>/baseline/v=<k>/_COMMITTED marker written LAST — readers only
#                                    trust marked baselines, so a crash
#                                    anywhere mid-fold is invisible
# ---------------------------------------------------------------------------

_FOLDED = "_FOLDED"
_COMMITTED = "_COMMITTED"
_BASELINE = "baseline"


def committed_fold(root: str) -> tuple[str, set[int]] | None:
    """Newest committed baseline under ``root``: (data path, folded ids)."""
    broot = os.path.join(root, _BASELINE)
    ks = numbered_ids(broot, prefix="v", require_marker=_COMMITTED)
    if not ks:
        return None
    d = os.path.join(broot, f"v={ks[-1]}")
    with open(os.path.join(d, _FOLDED)) as f:
        return os.path.join(d, "data"), set(json.load(f))


def fold_state(root: str) -> tuple[tuple[str, set[int]] | None, list[int]]:
    """The committed baseline under ``root`` (:func:`committed_fold`) and
    the sorted live batch ids it has not folded."""
    base = committed_fold(root)
    folded = base[1] if base else set()
    return base, [i for i in numbered_ids(root) if i not in folded]


def read_fold_paths(root: str, before: int | None = None) -> list[str]:
    """Parquet paths covering the store exactly once: the committed
    baseline (if any) plus live batch dirs, optionally only ids strictly
    below ``before`` (the crash-replay read: a replaying batch must not see
    its own or later contributions).

    A folded id >= ``before`` is impossible in a correct deployment —
    folding keeps the newest ``keep_last >= 1`` dirs live and only the
    newest batch can replay — so it raises instead of silently serving a
    store that double-counts the replaying batch.
    """
    base, ids = fold_state(root)
    if before is not None:
        if base and max(base[1]) >= before:
            raise RuntimeError(
                f"{root}: baseline folded batch ids up to {max(base[1])} but "
                f"batch {before} is replaying — compaction ran ahead of the "
                f"checkpoint commit horizon (keep_last too small?)"
            )
        ids = [i for i in ids if i < before]
    paths = [os.path.join(root, f"batch={i}") for i in ids]
    if base:
        paths.append(base[0])
    return paths


def guard_folded_replay(root: str, batch_id: int) -> None:
    """Refuse a write at a batch id the committed baseline already
    absorbed — its dir is hidden from every read (:func:`fold_state`), so
    the rows would be lost, and a replay rewriting it would serve them
    twice (baseline + live) to a reader that trusts the dir.  For
    maintainers whose writer never reads state (so the
    ``read_fold_paths(before=...)`` check never trips)."""
    base = committed_fold(root)
    if base and batch_id in base[1]:
        raise RuntimeError(
            f"{root}: batch {batch_id} already folded into the committed "
            "baseline — either compaction ran ahead of the checkpoint "
            "commit horizon (keep_last too small?), or a restarted stream "
            "recycled its batch ids and needs a fresh state_dir"
        )


def read_batch_tagged(
    spark, root: str, ids: list[int], base: tuple[str, set[int]] | None
):
    """Live dirs ``ids`` under ``root`` plus the committed baseline
    ``base`` (:func:`committed_fold`) as ONE DataFrame with a ``batch``
    column: a live row carries its own batch id, a baseline row the
    highest id the baseline folded.  Baselines only fold ids below every
    live one, so ``batch`` order is fold order with the baseline first —
    the order key of a left fold that compaction must not change.

    Each leg is read with its own ``basePath`` (required for stores whose
    dirs carry ``key=value`` partition subdirs — a multi-root read would
    trip Spark's conflicting-partition-directories check, and the
    baseline's ``baseline/v=<k>/data`` ancestors would break single-rooted
    discovery); the live leg's discovery yields ``batch``.  Returns None
    when there is nothing to read.  Partition-column filters prune in
    every leg."""
    parts = []
    if ids:
        parts.append(
            spark.read.option("basePath", root).parquet(
                *[os.path.join(root, f"batch={i}") for i in ids]
            )
        )
    if base:
        parts.append(
            spark.read.option("basePath", base[0])
            .parquet(base[0])
            .selectExpr("*", f"{max(base[1])} AS batch")
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_fold_df(spark, root: str, cols: list[str]):
    """The store as ONE DataFrame of ``cols`` (:func:`read_batch_tagged`
    over every live dir and the committed baseline); None when empty."""
    base, ids = fold_state(root)
    out = read_batch_tagged(spark, root, ids, base)
    return None if out is None else out.select(*cols)


def fold_verbatim(
    spark, root: str, keep_last: int = 2, agg=None, partition_by=None
) -> None:
    """Fold all but the newest ``keep_last`` contribution dirs (plus the
    old baseline) into a new committed baseline, then GC what it absorbed.

    The folded rows are read with :func:`read_batch_tagged`.  ``agg``
    (optional) reduces them to the stored schema before writing (e.g.
    re-summing a token ledger); it sees the ``batch`` column, so a reducer
    whose result depends on order can fold in batch-id order.  Without
    ``agg`` the rows are copied verbatim.  ``partition_by`` (optional)
    keeps the baseline laid out as ``key=value`` partition dirs so readers
    that prune on that column (the ANN index's bucket pruning) keep
    pruning the baseline exactly like a live contribution dir.
    ``keep_last`` must stay >= 1: only the newest batch can crash-replay,
    and its re-read excludes folded ids, so the dirs a replay may touch
    must never be folded.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (replay safety)")
    if not os.path.isdir(root):
        return
    base, live = fold_state(root)
    folded = base[1] if base else set()
    fold = live[:-keep_last]
    if not fold:
        return
    merged = read_batch_tagged(spark, root, fold, base)
    merged = agg(merged) if agg is not None else merged.drop("batch")
    broot = os.path.join(root, _BASELINE)
    ks = numbered_ids(broot, prefix="v")  # uncommitted leftovers count too:
    new_dir = os.path.join(broot, f"v={(ks[-1] + 1) if ks else 0}")  # no reuse
    writer = merged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(new_dir, "data"))
    with open(os.path.join(new_dir, _FOLDED), "w") as f:
        json.dump(sorted(folded | set(fold)), f)
    with open(os.path.join(new_dir, _COMMITTED), "w") as f:
        f.write("")  # marker LAST
    for i in fold:
        shutil.rmtree(os.path.join(root, f"batch={i}"), ignore_errors=True)
    for k in ks:
        shutil.rmtree(os.path.join(broot, f"v={k}"), ignore_errors=True)
