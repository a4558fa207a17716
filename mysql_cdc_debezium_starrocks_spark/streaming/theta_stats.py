"""Incrementally-maintained theta sketches of key columns — continuous
set-overlap / referential-integrity monitoring over streaming state.

The batch query ``sketch_theta_containment`` answers "are fact FKs
resolving against the dimension?" with one pass; THIS module keeps the
answer continuously fresh: each micro-batch folds its key column into a
k-row KMV/theta sketch written under ``theta/batch=<id>`` (batch-keyed
overwrite — crash-replay regenerates identical files, the rollup/scd2
idempotency scheme), and reads merge all contributions with
:func:`operators.sketches.theta_merge` — KMV sketches union losslessly
(the k smallest hashes of a union are the k smallest of the per-chunk k
smallest), proven bit-for-bit in tests, so the merged sketch equals the
sketch of all data ever ingested without rescanning history.

Cross-stream questions then cost O(k): :func:`containment_between` labels
two maintained states fk/pk and runs
:func:`operators.sketches.theta_containment`; ``overlap_between`` runs the
full intersection/union/Jaccard estimate.  At 100 TB each state is a few
KB per batch, the read-side merge is O(batches x k) tiny rows, and no
monitor ever touches the fact table again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import (
    theta_combine,
    theta_containment,
    theta_merge,
    theta_sketch,
)
from ..storage import pin_layout, read_json
from ._state import (
    committed_fold,
    fold_verbatim,
    numbered_ids,
    read_fold_paths,
    start_maintainer,
)

_THETA = "theta"
DEFAULT_K = 256
_META = "_meta.json"


def _theta_root(state_dir: str) -> str:
    return os.path.join(state_dir, _THETA)


def compact_theta(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Fold all but the newest ``keep_last`` sketch contributions (plus the
    old baseline) into one committed k-row baseline — the
    ``_state.fold_verbatim`` scheme applied to sketches.

    KMV union is hash-level distinct, so the fold is exact: the k smallest
    distinct hashes of the folded inputs ARE the union's sketch.
    """
    meta = _read_meta(state_dir)
    if meta is None and _batch_ids(state_dir):
        raise ValueError(
            f"theta state {state_dir} has contributions but no {_META}; "
            f"backfill it before compacting"
        )
    # without meta there are no contributions, so the fold has nothing to
    # reduce and never calls the agg
    fold_verbatim(
        spark,
        _theta_root(state_dir),
        keep_last,
        agg=lambda df: df.select("h")
        .distinct()
        .orderBy("h")
        .limit(meta["k"])
        .coalesce(1),
    )


def _batch_ids(state_dir: str) -> list[int]:
    return numbered_ids(_theta_root(state_dir))


def _meta_path(state_dir: str) -> str:
    return os.path.join(_theta_root(state_dir), _META)


def _read_meta(state_dir: str) -> dict | None:
    return read_json(_meta_path(state_dir))


def _ensure_meta(state_dir: str, k: int, seed: str) -> None:
    """Record (k, seed) in the state dir on first write; later writes must
    match.  A sketch maintained at k is only valid read at THAT k: merging
    k-row contributions then selecting k' > k smallest hashes silently
    flips a big set into bogus 'exact mode' (fewer than k' distinct hashes
    survive), and a different seed is a different hash family entirely."""
    pin_layout(
        _meta_path(state_dir),
        {"k": k, "seed": seed},
        has_data=lambda: bool(
            _batch_ids(state_dir) or committed_fold(_theta_root(state_dir))
        ),
        unpinned=(
            f"theta state {state_dir} has contributions but no {_META}; "
            f"backfill it with the original maintenance k/seed before writing"
        ),
        mismatch=lambda meta: (
            f"theta state {state_dir} was maintained with k={meta['k']} "
            f"seed={meta['seed']!r}; refusing write with k={k} seed={seed!r}"
        ),
    )


def update_theta_batch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    col: str,
    batch_id: int,
    k: int = DEFAULT_K,
    seed: str = "theta",
) -> None:
    """Fold one micro-batch's ``col`` into a k-row sketch contribution.

    NULL keys never enter the sketch (``theta_sketch`` drops them — a
    NULL hash would bias theta, and a NULL FK is an orphan by definition,
    not a key to sample).

    A batch id already folded into the committed baseline is REFUSED: a
    contribution dir whose id the baseline has folded is unreadable by design
    (read_theta must skip those ids so a crash mid-compaction — baseline
    committed, GC incomplete — never double-counts), so writing one would
    silently lose the batch.  Ids recycle only when a stream restarts
    with a reset checkpoint; that caller needs a fresh state_dir or an
    epoch offset, and this guard turns the silent loss into an error.
    """
    _ensure_meta(state_dir, k, seed)
    base = committed_fold(_theta_root(state_dir))
    if base is not None and batch_id in base[1]:
        raise ValueError(
            f"theta state {state_dir}: batch_id {batch_id} was already "
            f"folded into baseline {base[0]} — a restarted stream with "
            f"recycled batch ids must write to a fresh state_dir (or "
            f"offset its epoch ids); writing here would be invisible to "
            f"read_theta"
        )
    sk = theta_sketch(
        batch.select(F.lit("s").alias("_set"), F.col(col)),
        "_set", col, k=k, seed=seed,
    )
    sk.select("h").coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_theta_root(state_dir), f"batch={batch_id}")
    )


def read_theta(
    spark: SparkSession, state_dir: str, k: int | None = None,
    label: str = "s",
) -> DataFrame:
    """The merged sketch of everything ever ingested: (set=label, h, theta).

    Contribution files store only the hashes; theta is recomputed by the
    merge (it must be — per-chunk thetas are not the union's theta).
    ``k`` defaults to the k the state was maintained with (recorded in the
    state's ``_meta.json``); passing a different k raises rather than
    silently mis-estimating.
    """
    parts = read_fold_paths(_theta_root(state_dir))
    if not parts:
        raise FileNotFoundError(f"no theta sketch state under {state_dir}")
    meta = _read_meta(state_dir)
    if meta is None:
        # pre-metadata state: the maintenance k is unknown, and reading at
        # the wrong k mis-estimates (exact-mode flip) — mirror the write
        # path's _ensure_meta guard instead of assuming DEFAULT_K
        if k is None:
            raise ValueError(
                f"theta state {state_dir} has contributions but no {_META}; "
                f"pass the original maintenance k explicitly (or backfill "
                f"{_META}) before reading"
            )
    else:
        state_k = meta["k"]
        if k is None:
            k = state_k
        elif k != state_k:
            raise ValueError(
                f"theta state {state_dir} was maintained with k={state_k}; "
                f"reading at k={k} would mis-estimate (exact-mode flip)"
            )
    rows = spark.read.parquet(*parts)
    return theta_merge(rows.select(F.lit(label).alias("_set"), "h"), "_set", k)


def containment_between(
    spark: SparkSession, fk_state: str, pk_state: str, k: int | None = None
) -> dict:
    """Estimated fraction of the fk-state's keys present in the pk-state's.

    Both states must have been maintained with the SAME seed and key
    domain semantics (the hash is of the stringified value); k defaults to
    the states' recorded maintenance k.  Degenerate cases are explicit,
    never a crash or a false all-clear:

    - fk state EMPTY (no keys ingested yet — startup): containment 1.0,
      the vacuous truth; ``fk_sketch_rows`` 0 lets callers tell.
    - fk state non-empty but NO fk sample survives below the combined
      theta (tiny fk set vs a huge pk set pushing theta_g far down):
      containment ``None`` — "insufficient sample", emphatically NOT 1.0,
      because every fk key could still be an orphan.
    """
    sk_fk = read_theta(spark, fk_state, k, label="fk")
    sk_pk = read_theta(spark, pk_state, k, label="pk")
    fk_rows = sk_fk.count()
    rows = theta_containment(sk_fk.unionByName(sk_pk), "_set", "fk").collect()
    r = rows[0] if rows else None
    fk_s = (r["fk_s"] if r else 0) or 0
    if fk_rows == 0:
        est = 1.0
    elif fk_s == 0:
        est = None
    else:
        est = float(r["containment_est"])
    return {
        "inter_sample": (r["inter_s"] if r else 0) or 0,
        "fk_sample": fk_s,
        "fk_sketch_rows": fk_rows,
        "containment_est": est,
    }


def overlap_between(
    spark: SparkSession, a_state: str, b_state: str, k: int | None = None
) -> dict:
    """Intersection / union / Jaccard estimates between two maintained
    key-sketch states.  Empty states (nothing ingested yet) yield the
    defined zero estimates instead of NULL-crashing; Jaccard of two empty
    sets is reported as 0.0 by convention.
    """
    sk = read_theta(spark, a_state, k, label="a").unionByName(
        read_theta(spark, b_state, k, label="b")
    )
    rows = theta_combine(sk, "_set").collect()
    r = rows[0] if rows else None

    def _f(name):
        v = r[name] if r is not None else None
        return float(v) if v is not None else 0.0

    return {
        "theta": r["theta"] if r is not None else None,
        "inter_est": _f("inter_est"),
        "union_est": _f("union_est"),
        "jaccard_est": _f("jaccard_est"),
    }


def start_theta_load(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    col: str,
    k: int = DEFAULT_K,
    trigger_seconds: int | None = None,
    compact_every: int | None = None,
    keep_last: int = 2,
):
    """Wire a stream into the sketch maintainer; caller owns lifecycle.

    ``compact_every`` = retention hook: every Nth batch folds old sketch
    contributions into the committed k-row baseline (:func:`compact_theta`)
    so dir counts stay bounded over an unbounded run."""
    return start_maintainer(
        source,
        lambda df, bid: update_theta_batch(
            df.sparkSession, state_dir, df, col, bid, k=k
        ),
        checkpoint_dir,
        trigger_seconds,
        compact=lambda s: compact_theta(s, state_dir, keep_last),
        compact_every=compact_every,
    )
