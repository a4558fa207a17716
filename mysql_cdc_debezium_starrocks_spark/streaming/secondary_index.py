"""Secondary index over the materialized CDC state: point lookups on
NON-key columns without scanning the table — the StarRocks secondary/bitmap
index analog (the PK path is ``materializer.point_lookup``).

The index is a hash-bucketed projection ``(col, pk, pk_bucket)``: a lookup
prunes to ONE index bucket (partition filter on the indexed value's hash),
reads the matching pk + pk_bucket pairs, then reads ONLY those state
buckets and semi-joins on pk.  Cost: O(index/buckets) + O(matching state
buckets) — both partition-pruned, independent of table width and bucket
count growth.

Freshness: the index is a derived structure built from the state it
indexes; rebuild it after merges (cheap: one projection scan, a few
columns wide, no shuffle except the bucket route) or on a maintenance
cadence.  ``lookup_by_index`` optionally re-verifies against the live row
(``verify=True``, default) so a stale index can only MISS rows merged
since the build, never return deleted/stale values — the standard
lag-tolerant secondary-index contract.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.apply import not_deleted
from ..storage import (
    BUCKET_COL,
    bucket_of,
    overwrite_buckets,
    read_json,
    write_json_atomic,
)
from .materializer import CdcLoadConfig, _read_state_raw, _state_path

_IBUCKET = "_ibucket"


def _index_dir(cfg: CdcLoadConfig, col: str) -> str:
    return os.path.join(cfg.state_dir, "index", col)


def build_secondary_index(
    spark: SparkSession, cfg: CdcLoadConfig, col: str, buckets: int | None = None
) -> str:
    """(Re)build the hash-bucketed index projection for ``col``.

    The bucket modulus is RECORDED next to the index (_meta.json): lookups
    must hash with the exact build modulus — inferring it from the observed
    partition values mis-routes whenever the top hash buckets happen to be
    empty, and an inference-based probe silently returns no rows.
    """
    # capture fingerprints BEFORE reading: if a merge lands mid-build the
    # recorded fps are too OLD, so the next refresh re-projects those
    # buckets — the safe direction (capturing after the write could mark a
    # bucket fresh whose index content predates the change)
    fps = _state_fingerprints(cfg)
    raw = _read_state_raw(spark, cfg)
    if raw is None:
        raise FileNotFoundError(f"no materialized state under {cfg.state_dir}")
    n = buckets or cfg.buckets
    idx = raw.select(
        F.col(col),
        F.col(cfg.key),
        F.col(BUCKET_COL).alias("pk_bucket"),
    ).withColumn(_IBUCKET, bucket_of(col, n))
    out = _index_dir(cfg, col)
    (
        idx.repartition(F.col(_IBUCKET))
        .write.mode("overwrite")
        .partitionBy(_IBUCKET)
        .parquet(out)
    )
    # state_fp: per-pk-bucket fingerprints of the state this index was
    # built from — refresh_secondary_index diffs them to re-project only
    # the buckets that changed since
    write_json_atomic(
        os.path.join(out, "_meta.json"), {"buckets": n, "state_fp": fps}
    )
    return out


def lookup_by_index(
    spark: SparkSession,
    cfg: CdcLoadConfig,
    col: str,
    value,
    verify: bool = True,
) -> DataFrame:
    """Live rows where ``col == value`` via the secondary index.

    Reads one index bucket + only the state buckets holding matches.  With
    ``verify`` (default) the indexed predicate re-applies on the live row,
    so a lagging index cannot surface stale values.
    """
    idx_path = _index_dir(cfg, col)
    idx = spark.read.parquet(idx_path)
    v = F.lit(value).cast(dict(idx.dtypes)[col])
    meta = read_json(os.path.join(idx_path, "_meta.json"))
    hits = idx.filter(F.col(col) == v)
    # an index built before _meta.json existed has no recorded modulus
    # (max(_IBUCKET)+1 under-counts when high buckets are empty), so it
    # skips index-side bucket pruning — a full index scan is still correct
    # and still prunes the STATE buckets below
    if meta is not None:
        hits = hits.filter(F.col(_IBUCKET) == bucket_of(v, meta["buckets"]))
    pk_buckets = [
        r["pk_bucket"] for r in hits.select("pk_bucket").distinct().collect()
    ]
    raw = _read_state_raw(spark, cfg)
    live = (
        raw.filter(F.col(BUCKET_COL).isin(pk_buckets))
        .filter(not_deleted())
        .join(hits.select(cfg.key), cfg.key, "left_semi")
        .drop(BUCKET_COL)
    )
    return live.filter(F.col(col) == v) if verify else live


def _state_fingerprints(cfg: CdcLoadConfig) -> dict[str, str]:
    """Per-pk-bucket content fingerprint of the materialized state: the
    sorted data-file names of each bucket dir, hashed.  Every write path
    that can change a bucket's rows (the merge's dynamic-partition
    overwrite, the tombstone GC swap) replaces its files under fresh
    part-file names, so a changed bucket ALWAYS changes its fingerprint —
    no mtime trust, no file reads."""
    import hashlib

    root = _state_path(cfg)
    out: dict[str, str] = {}
    if not os.path.isdir(root):
        return out
    for d in os.listdir(root):
        if not d.startswith(f"{BUCKET_COL}="):
            continue
        names = sorted(
            f
            for f in os.listdir(os.path.join(root, d))
            if not f.startswith(("_", "."))
        )
        out[d.split("=", 1)[1]] = hashlib.md5(
            "|".join(names).encode()
        ).hexdigest()[:16]
    return out


def refresh_secondary_index(
    spark: SparkSession, cfg: CdcLoadConfig, col: str
) -> int:
    """Incrementally refresh the index for ``col``: re-project ONLY the pk
    buckets whose state files changed since the last build/refresh, and
    rewrite ONLY the index buckets their rows land in (plus the buckets
    their OLD rows occupied).

    Cost: one scan of the NARROW index (3 columns) + a partition-pruned
    scan of just the changed state buckets — never the full wide state,
    which is what ``build_secondary_index`` re-reads.  At 100 TB a merge
    touches a handful of pk buckets per batch; the refresh cost follows
    the batch, not the table.  The write is the same dynamic bucket
    overwrite every bucketed upsert ends in (``storage.overwrite_buckets``,
    after ``storage.upsert_buckets``).

    Returns the number of changed pk buckets (0 = verified no-op, nothing
    written; -1 = legacy index without fingerprints, full rebuild ran).
    After a refresh the index is row-identical to a fresh build (tested),
    and lookups keep the miss-never-lie contract throughout.
    """
    import shutil

    idx_path = _index_dir(cfg, col)
    with open(os.path.join(idx_path, "_meta.json")) as f:
        meta = json.load(f)
    n = meta["buckets"]
    old_fp = meta.get("state_fp")
    if old_fp is None:
        build_secondary_index(spark, cfg, col, buckets=n)
        return -1
    new_fp = _state_fingerprints(cfg)
    changed = sorted(
        {b for b, v in new_fp.items() if old_fp.get(b) != v}
        | {b for b in old_fp if b not in new_fp},
        key=int,
    )
    if not changed:
        return 0
    changed_i = [int(b) for b in changed]

    fresh = (
        _read_state_raw(spark, cfg)
        .filter(F.col(BUCKET_COL).isin(changed_i))
        .select(
            F.col(col), F.col(cfg.key), F.col(BUCKET_COL).alias("pk_bucket")
        )
        .withColumn(_IBUCKET, bucket_of(col, n))
        .persist()
    )
    try:
        old = spark.read.parquet(idx_path)
        stale_ibs = {
            r[_IBUCKET]
            for r in old.filter(F.col("pk_bucket").isin(changed_i))
            .select(_IBUCKET)
            .distinct()
            .collect()
        }
        fresh_ibs = {
            r[_IBUCKET] for r in fresh.select(_IBUCKET).distinct().collect()
        }
        affected = sorted(stale_ibs | fresh_ibs)
        if affected:
            keep = old.filter(
                F.col(_IBUCKET).isin(affected)
                & ~F.col("pk_bucket").isin(changed_i)
            ).select(col, cfg.key, "pk_bucket", _IBUCKET)
            replacement = keep.unionByName(
                fresh.select(col, cfg.key, "pk_bucket", _IBUCKET)
            ).persist()
            # dynamic overwrite only rewrites partitions PRESENT in the
            # output: an affected index bucket whose replacement is empty
            # must be dropped explicitly or its stale rows would survive
            nonempty = {
                r[_IBUCKET]
                for r in replacement.select(_IBUCKET).distinct().collect()
            }
            # drop the emptied buckets BEFORE the overwrite commit (r07
            # advice #4): a bucket with an empty replacement holds ONLY
            # rows of changed pk buckets (any surviving row would have
            # made the replacement non-empty), so removing it early can
            # only turn a wrong-valued verify=False hit into a miss —
            # the safe direction under the miss-never-lie contract —
            # whereas dropping after the commit left a window where a
            # crash or concurrent unverified reader saw stale rows the
            # next refresh would no longer re-diff.  replacement is fully
            # materialized (persisted + collected) before the drop; if an
            # executor loss forces a recompute over the now-missing dirs,
            # the WRITE fails — meta is still old, so the retry re-diffs
            # the same buckets and heals (fail-safe, never wrong-valued)
            for ib in affected:
                if ib not in nonempty:
                    shutil.rmtree(
                        os.path.join(idx_path, f"{_IBUCKET}={ib}"),
                        ignore_errors=True,
                    )
            overwrite_buckets(replacement, idx_path, _IBUCKET)
            replacement.unpersist()
    finally:
        fresh.unpersist()
    meta["state_fp"] = new_fp
    write_json_atomic(os.path.join(idx_path, "_meta.json"), meta)
    return len(changed)
