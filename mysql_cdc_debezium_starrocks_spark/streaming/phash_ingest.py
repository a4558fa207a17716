"""Image dedup-at-ingest: incremental perceptual-hash near-dup detection on
a binary-document stream — the multimodal twin of ``dedup_ingest``.

The batch operator (``operators.multimodal.mm_phash_dupes``) band-joins the
whole corpus; at ingest time that re-scan per batch is O(corpus) forever.
This maintainer keeps a **pHash band store** (doc_id, phash_bits, band,
key) and, per micro-batch:

1. decode + hash ONLY the new images (``phash_of`` — the same real
   PPM-decode kernel the batch path uses, Arrow-batched);
2. candidates = new bands ⋈ (store ∪ new) on (band, key), verified by
   TRUE Hamming distance <= PHASH_MAX_HAMMING, pairs and band rows
   written per batch — ``dedup_ingest``'s banded-pair maintainer
   (``ingest_banded_pairs``) with ``key`` as the bucket, ``phash_bits``
   as the payload and Hamming as the verify; its readers, retention hook
   and start are shared the same way.

Scale: the store carries PHASH_BANDS 16-char rows per image (~100 B) —
never pixels; candidate volume is band-bucket bounded exactly like the
batch join; per-batch dirs fold into a committed baseline via the retention
hook (``compact_phash_ingest``), keeping dir counts and file listings
O(keep_last) on a long-lived stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import PHASH_MAX_HAMMING, phash_bands, phash_of
from .dedup_ingest import (
    compact_dedup_ingest,
    dup_pairs,
    ingest_banded_pairs,
    start_banded_ingest,
)


def ingest_phash_batch(
    spark: SparkSession,
    state_dir: str,
    blobs: DataFrame,
    batch_id: int,
    max_hamming: int = PHASH_MAX_HAMMING,
) -> None:
    def verify(cand: DataFrame) -> DataFrame:
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
        return cand.select(
            "doc_a", "doc_b", hamming.cast("int").alias("hamming")
        ).filter(F.col("hamming") <= max_hamming)

    new = phash_bands(phash_of(blobs).select("doc_id", "phash_bits"))
    ingest_banded_pairs(
        spark, state_dir, new, batch_id, "key", "phash_bits", verify
    )


def dup_image_pairs(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """All near-dup image pairs found so far (each pair exactly once)."""
    return dup_pairs(spark, state_dir)


def compact_phash_ingest(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> None:
    """Retention hook: fold old per-batch band-store and pair dirs into
    committed baselines (:func:`~.dedup_ingest.compact_dedup_ingest`)."""
    compact_dedup_ingest(spark, state_dir, keep_last)


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
    return start_banded_ingest(
        ingest_phash_batch, source, state_dir, checkpoint_dir, trigger_seconds,
        compact_every, keep_last,
    )
