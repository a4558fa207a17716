"""Image dedup-at-ingest: incremental perceptual-hash near-dup detection on
a binary-document stream — the multimodal twin of ``dedup_ingest``.

The batch operator (``operators.multimodal.mm_phash_dupes``) band-joins the
whole corpus; at ingest time that re-scan per batch is O(corpus) forever.
This maintainer keeps a **pHash band store** (doc_id, phash_bits, band,
key) and, per micro-batch:

1. decode + hash ONLY the new images (``phash_of`` — the same real
   PPM-decode kernel the batch path uses, Arrow-batched);
2. candidates = new bands ⋈ (store ∪ new) on (band, key) with
   least/greatest pair normalization — new-vs-old AND new-vs-new once
   (doc_ids are not monotonic across batches, so `<` would drop pairs);
3. verify TRUE Hamming distance <= PHASH_MAX_HAMMING on candidates only;
4. verified pairs append under ``pairs/batch=<id>``, new band rows under
   ``sigs/batch=<id>`` — batch-id-keyed overwrites with the store read
   excluding batches >= the current id, so crash-replay regenerates
   byte-identical output (the rollup/scd2/dedup_ingest idempotency scheme).

Scale: the store carries PHASH_BANDS 16-char rows per image (~100 B) —
never pixels; candidate volume is band-bucket bounded exactly like the
batch join; per-batch dirs fold into a committed baseline via the retention
hook (``compact_phash_ingest``), keeping dir counts and file listings
O(keep_last) on a long-lived stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import PHASH_MAX_HAMMING, phash_bands, phash_of
from ._state import fold_verbatim, read_fold_paths, start_maintainer


def ingest_phash_batch(
    spark: SparkSession,
    state_dir: str,
    blobs: DataFrame,
    batch_id: int,
    max_hamming: int = PHASH_MAX_HAMMING,
) -> None:
    new = phash_bands(phash_of(blobs).select("doc_id", "phash_bits")).persist()
    try:
        if new.isEmpty():
            return
        prev = read_fold_paths(os.path.join(state_dir, "sigs"), before=batch_id)
        probe = new
        if prev:
            store = spark.read.parquet(*prev)
            probe = store.unionByName(new)
        a, b = probe.alias("a"), new.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                F.least("a.phash_bits", "b.phash_bits").alias("pa"),
                F.greatest("a.phash_bits", "b.phash_bits").alias("pb"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        hamming = F.size(
            F.filter(
                F.zip_with(
                    F.split(F.col("pa"), ""),
                    F.split(F.col("pb"), ""),
                    lambda x, y: x != y,
                ),
                lambda d: d,
            )
        )
        pairs = cand.select(
            "doc_a", "doc_b", hamming.cast("int").alias("hamming")
        ).filter(F.col("hamming") <= max_hamming)
        pairs.write.mode("overwrite").parquet(
            os.path.join(state_dir, "pairs", f"batch={batch_id}")
        )
        new.write.mode("overwrite").parquet(
            os.path.join(state_dir, "sigs", f"batch={batch_id}")
        )
    finally:
        new.unpersist()


def dup_image_pairs(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """All near-dup image pairs found so far (each pair exactly once)."""
    paths = read_fold_paths(os.path.join(state_dir, "pairs"))
    if not paths:
        return None
    return spark.read.parquet(*paths)


def compact_phash_ingest(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Retention hook (the ``compact_agg_mv`` analog): fold old per-batch
    band-store and pair dirs into committed baselines — bounded dir counts
    and O(1) file listings on a long-lived stream.  Rows copy verbatim
    (band rows and verified pairs need no re-aggregation); the ingest read
    path sees baseline + live dirs, so folded state stays byte-equivalent.
    Crash-mid-compaction is invisible (committed-marker-last scheme)."""
    fold_verbatim(spark, os.path.join(state_dir, "sigs"), keep_last)
    fold_verbatim(spark, os.path.join(state_dir, "pairs"), keep_last)


def start_phash_ingest(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    compact_every: int | None = None,
    keep_last: int = 2,
):
    """Wire a binary-document stream (doc_id, blob) into the maintainer.

    ``compact_every``: fold contribution dirs every Nth batch
    (:func:`compact_phash_ingest`) — bounded state on a long-lived stream."""
    return start_maintainer(
        source,
        lambda df, bid: ingest_phash_batch(df.sparkSession, state_dir, df, bid),
        checkpoint_dir,
        trigger_seconds,
        compact=lambda s: compact_phash_ingest(s, state_dir, keep_last),
        compact_every=compact_every,
    )
