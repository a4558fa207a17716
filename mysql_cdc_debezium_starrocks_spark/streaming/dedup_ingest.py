"""Dedup-at-ingest: incremental near-duplicate detection on a document stream.

The batch suite finds near-dups with a corpus-wide self-join
(``operators.dedup.dedup_minhash_lsh``); at ingest time that re-scan per
batch would be O(corpus) forever.  This maintainer keeps a **signature
store** (banded MinHash rows) and, per micro-batch, joins ONLY the new
docs' bands against it — cost O(batch x matching buckets), never O(corpus):

1. ``signature_table`` folds the new docs to (doc_id, hs, band, bhash);
2. candidates = new bands ⋈ (store ∪ new) on (band, bhash) with
   ``doc_id !=``, normalized to ``doc_a < doc_b`` — catches new-vs-old
   AND new-vs-new pairs once;
3. exact Jaccard on the shingle-hash sets verifies candidates (same
   sketch-then-verify discipline as the batch path);
4. verified pairs append under ``pairs/batch=<id>``, new signatures under
   ``sigs/batch=<id>`` — batch-id-keyed overwrites, and the store read
   EXCLUDES batches >= the current id, so a crash-replay regenerates
   byte-identical output (same idempotency scheme as ``rollup``/``scd2``).

Steps 2 and 4, the readers, the retention hook and the start are the
banded-pair maintainer (:func:`ingest_banded_pairs`) that
``phash_ingest`` runs too, with its own bucket, payload and verify.

Scale: the store carries each doc's band rows (hs set duplicated per band —
trades ~BANDS x storage for O(1) candidate lookup with no store-wide
recompute; at very large corpora the hs sets would move to a side table
joined only for verification).  Retention: ``compact_dedup_ingest`` folds
old per-batch dirs into a committed baseline (the ``_state.fold_verbatim``
scheme mix/phash/hll use), so file listings stay O(keep_last) on a
long-lived stream instead of one dir per batch forever (VERDICT r05 #2).
Reference analog: StarRocks PK-table background compaction
(docs/ARCHITECTURE.md:120-129).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import JACCARD_MIN, signature_table
from ._state import fold_verbatim, read_fold_paths, start_maintainer


def ingest_banded_pairs(
    spark: SparkSession,
    state_dir: str,
    new: DataFrame,
    batch_id: int,
    bucket: str,
    payload: str,
    verify: Callable[[DataFrame], DataFrame],
) -> None:
    """One micro-batch of a banded near-dup store: ``new`` holds the
    batch's band rows (``doc_id``, ``band``, ``bucket``, ``payload``).
    Probe = committed ``sigs/`` below ``batch_id`` plus ``new``; candidates
    = probe ⋈ new on (band, bucket) with ``doc_id !=``, each pair once as
    (``doc_a``, ``doc_b``, ``pa``, ``pb``); ``verify`` maps them to the pair
    rows, written to ``pairs/batch=<id>`` before the band rows go to
    ``sigs/batch=<id>``."""
    new = new.persist()
    try:
        if new.isEmpty():
            return
        prev = read_fold_paths(
            os.path.join(state_dir, "sigs"), before=batch_id
        )
        probe = new
        if prev:
            store = spark.read.parquet(*prev)
            probe = store.unionByName(new)
        a, b = probe.alias("a"), new.alias("b")
        # Join on != then normalize with least/greatest: a `<` predicate here
        # would silently drop any new-vs-stored pair whose new doc_id sorts
        # BELOW the stored one (doc_ids are not guaranteed monotonic across
        # batches).  Both verifies (Jaccard, Hamming) are symmetric, so the
        # orientation of (pa, pb) does not matter; dropDuplicates on the
        # normalized key keeps each pair exactly once even when both
        # new-vs-new orientations match.
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col(f"a.{bucket}") == F.col(f"b.{bucket}"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                F.col(f"a.{payload}").alias("pa"),
                F.col(f"b.{payload}").alias("pb"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        verify(cand).write.mode("overwrite").parquet(
            os.path.join(state_dir, "pairs", f"batch={batch_id}")
        )
        new.write.mode("overwrite").parquet(
            os.path.join(state_dir, "sigs", f"batch={batch_id}")
        )
    finally:
        new.unpersist()


def ingest_dedup_batch(
    spark: SparkSession,
    state_dir: str,
    docs: DataFrame,
    batch_id: int,
    jaccard_min: float = JACCARD_MIN,
) -> None:
    def verify(cand: DataFrame) -> DataFrame:
        jac = F.size(F.array_intersect("pa", "pb")) / F.size(
            F.array_union("pa", "pb")
        )
        return cand.select(
            "doc_a",
            "doc_b",
            F.round(jac, 4).cast("decimal(7,4)").alias("jaccard"),
        ).filter(F.col("jaccard") >= jaccard_min)

    ingest_banded_pairs(
        spark, state_dir, signature_table(docs), batch_id, "bhash", "hs", verify
    )


def dup_pairs(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """All near-dup pairs found so far (every new-vs-seen pair exactly once)."""
    paths = read_fold_paths(os.path.join(state_dir, "pairs"))
    if not paths:
        return None
    return spark.read.parquet(*paths)


def compact_dedup_ingest(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Retention hook (the ``compact_agg_mv`` scheme): fold old signature
    and pair contribution dirs into committed baselines so a long-lived
    stream keeps O(keep_last) dirs instead of one per batch forever.  Both
    stores fold verbatim — band rows and verified pairs need no
    re-aggregation — so folding is a pure representation change
    (soak-asserted against an uncompacted control).  Crash-mid-fold is
    invisible (committed-marker-last)."""
    fold_verbatim(spark, os.path.join(state_dir, "sigs"), keep_last)
    fold_verbatim(spark, os.path.join(state_dir, "pairs"), keep_last)


def start_banded_ingest(
    ingest: Callable,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None,
    compact_every: int | None,
    keep_last: int,
):
    """Start ``ingest(spark, state_dir, df, batch_id)`` as a banded-pair
    maintainer, folding with :func:`compact_dedup_ingest` every
    ``compact_every`` batches."""
    return start_maintainer(
        source,
        lambda df, bid: ingest(df.sparkSession, state_dir, df, bid),
        checkpoint_dir,
        trigger_seconds,
        compact=lambda s: compact_dedup_ingest(s, state_dir, keep_last),
        compact_every=compact_every,
    )


def start_dedup_ingest(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    compact_every: int | None = None,
    keep_last: int = 2,
):
    """Wire a document stream (doc_id, text, ...) into the maintainer.

    ``compact_every``: fold contribution dirs every Nth batch
    (:func:`compact_dedup_ingest`) — bounded state on a long-lived stream."""
    return start_banded_ingest(
        ingest_dedup_batch, source, state_dir, checkpoint_dir, trigger_seconds,
        compact_every, keep_last,
    )
