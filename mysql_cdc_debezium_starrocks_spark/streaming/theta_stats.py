"""Incrementally-maintained theta sketches of key columns — continuous
set-overlap / referential-integrity monitoring over streaming state.

The batch query ``sketch_theta_containment`` answers "are fact FKs
resolving against the dimension?" with one pass; THIS module keeps the
answer continuously fresh.  The state is one :mod:`agg_mv` view with no
group keys and one ``("kmv", "h", k)`` spec: each micro-batch projects its
key column to the hashes of its k-row KMV/theta sketch
(:func:`operators.sketches.theta_sketch`) and writes them as one partial,
and a read merges the partials to the k smallest distinct hashes and
rebuilds the sketch with :func:`operators.sketches.theta_merge` — KMV
sketches union losslessly (the k smallest hashes of a union are the k
smallest of the per-chunk k smallest), proven bit-for-bit in tests, so the
merged sketch equals the sketch of all data ever ingested without
rescanning history.

Cross-stream questions then cost O(k): :func:`containment_between` labels
two maintained states fk/pk and runs
:func:`operators.sketches.theta_containment`; ``overlap_between`` runs the
full intersection/union/Jaccard estimate.  At 100 TB each state is a few
KB per batch, the read-side merge is O(batches x k) hashes, and no
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
from ._state import start_maintainer
from .agg_mv import _CONTRIB, compact_agg_mv, merge_agg_mv_batch, read_agg_mv

DEFAULT_K = 256
_META = "_meta.json"


def _spec(k: int) -> dict:
    return {"h": ("kmv", "h", k)}


def _meta_path(state_dir: str) -> str:
    return os.path.join(state_dir, _META)


def _has_data(state_dir: str) -> bool:
    return os.path.isdir(os.path.join(state_dir, _CONTRIB))


def _unpinned(state_dir: str) -> str:
    return (
        f"theta state {state_dir} has contributions but no {_META}; "
        f"backfill it with the original maintenance k/seed (a read may "
        f"pass that k explicitly instead)"
    )


def _maintained_k(state_dir: str, k: int | None = None) -> int:
    """The k the state was maintained with (its ``_meta.json``).  A sketch
    maintained at k is only valid read at THAT k: merging k-row
    contributions then selecting k' > k smallest hashes silently flips a
    big set into bogus 'exact mode' (fewer than k' distinct hashes
    survive), so a different ``k`` raises, and state without the record
    needs ``k`` passed explicitly rather than an assumed DEFAULT_K."""
    meta = read_json(_meta_path(state_dir))
    if meta is None:
        if k is None and _has_data(state_dir):
            raise ValueError(_unpinned(state_dir))
        # no state yet: the k only has to pass the spec check
        return DEFAULT_K if k is None else k
    if k not in (None, meta["k"]):
        raise ValueError(
            f"theta state {state_dir} was maintained with k={meta['k']}; "
            f"reading at k={k} would mis-estimate (exact-mode flip)"
        )
    return meta["k"]


def compact_theta(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Fold all but the newest ``keep_last`` sketch contributions (plus the
    old baseline) into one committed k-hash baseline
    (:func:`agg_mv.compact_agg_mv`).  KMV union is hash-level distinct, so
    the fold is exact."""
    compact_agg_mv(spark, state_dir, [], _spec(_maintained_k(state_dir)), keep_last)


def update_theta_batch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    col: str,
    batch_id: int,
    k: int = DEFAULT_K,
    seed: str = "theta",
) -> None:
    """Fold one micro-batch's ``col`` into a k-hash sketch contribution.

    NULL keys never enter the sketch (``theta_sketch`` drops them — a
    NULL hash would bias theta, and a NULL FK is an orphan by definition,
    not a key to sample).  (k, seed) are recorded in the state dir on
    first write and later writes must match: a different seed is a
    different hash family entirely.  A batch id the committed baseline
    already folded raises (:func:`agg_mv.merge_agg_mv_batch`).
    """
    pin_layout(
        _meta_path(state_dir),
        {"k": k, "seed": seed},
        has_data=lambda: _has_data(state_dir),
        unpinned=_unpinned(state_dir),
        mismatch=lambda meta: (
            f"theta state {state_dir} was maintained with k={meta['k']} "
            f"seed={meta['seed']!r}; refusing write with k={k} seed={seed!r}"
        ),
    )
    sk = theta_sketch(
        batch.select(F.lit("s").alias("_set"), F.col(col)),
        "_set", col, k=k, seed=seed,
    )
    merge_agg_mv_batch(spark, state_dir, sk.select("h"), [], _spec(k), batch_id)


def read_theta(
    spark: SparkSession, state_dir: str, k: int | None = None,
    label: str = "s",
) -> DataFrame:
    """The merged sketch of everything ever ingested: (set=label, h, theta).

    Contributions store only the hashes; theta is recomputed by the merge
    (it must be — per-chunk thetas are not the union's theta).  ``k``
    defaults to the k the state was maintained with (:func:`_maintained_k`).
    """
    k = _maintained_k(state_dir, k)
    hashes = read_agg_mv(spark, state_dir, [], _spec(k)).select(
        F.lit(label).alias("_set"), F.explode("h").alias("h")
    )
    return theta_merge(hashes, "_set", k)


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
    ``theta_sketch`` ranks hashes with a window, which a streaming source
    cannot run, so each batch goes through :func:`update_theta_batch`.

    ``compact_every`` = retention hook: every Nth batch folds old sketch
    contributions into the committed k-hash baseline (:func:`compact_theta`)
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
