"""Streaming heavy hitters: a Misra-Gries summary maintained per micro-batch
with M counters of bounded state — the top-k analog of the windowed HLL
cardinality (analytics.py) and CMS point-estimates (operators/sketches.py).

Exact streaming top-k needs per-key state for EVERY key ever seen; at 100 TB
of keys that state is the dataset.  The Misra-Gries/Space-Saving summary
keeps M counters with the classic guarantee: for every key,

    est(key)  <=  true(key)  <=  est(key) + D

where ``est`` is the stored count (0 if evicted) and ``D`` is the cumulative
eviction deduction (tracked exactly in a 1-row meta).  Any key with
true > D is guaranteed present — so with M sized ~N/phi, every phi-heavy
hitter survives (mergeable-summaries formulation: Agarwal et al., PODS'12;
Misra-Gries '82).

Per micro-batch (the distributed merge):

1. fold the batch to per-key partial counts (map-side combinable — the only
   shuffle, O(batch distinct keys));
2. union with the previous M-row summary and sum by key;
3. threshold t = the (M+1)-th largest merged count (``takeOrdered`` — the
   driver sees M+1 LONGS, nothing more); every counter drops by t and
   non-positive ones evict — at most M survive;
4. write the summary + meta to the batch's OWN versioned dir.

State layout follows scd2.py's copy-on-write snapshots: ``summary/batch=<b>``
is derived deterministically from ``summary/batch=<prev>`` plus the batch
rows, so Structured Streaming replaying batch b after a crash rewrites an
IDENTICAL snapshot (replay idempotence by construction); the newest 3
committed snapshots are kept (``_state.write_snapshot``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._state import newest_snapshot, start_maintainer, write_snapshot

_SUMMARY = "summary"


def merge_heavy_hitters_batch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    batch_id: int,
    key_col: str = "user_id",
    m: int = 64,
) -> None:
    """Fold one micro-batch into the M-counter summary (see module doc)."""
    counts = batch.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )

    root = os.path.join(state_dir, _SUMMARY)
    prior = newest_snapshot(root, below=batch_id)
    if prior:
        prev = spark.read.parquet(prior)
        prev_summary = prev.filter(F.col("key").isNotNull())
        prev_meta = prev.filter(F.col("key").isNull())  # 1 row: (null, D, N)
        merged = prev_summary.select("key", "cnt").unionByName(counts).groupBy(
            "key"
        ).agg(F.sum("cnt").alias("cnt"))
        prev_row = prev_meta.select("deducted", "n_total").collect()
        deducted, n_total = (
            (prev_row[0]["deducted"], prev_row[0]["n_total"])
            if prev_row
            else (0, 0)
        )
    else:
        merged = counts
        deducted, n_total = 0, 0

    n_total += batch.count()

    # (M+1)-th largest count; the driver materializes M+1 longs, no keys
    top = merged.select("cnt").orderBy(F.desc("cnt")).take(m + 1)
    t = int(top[-1]["cnt"]) if len(top) > m else 0
    deducted += t

    kept = (
        merged.withColumn("cnt", F.col("cnt") - F.lit(t))
        .filter(F.col("cnt") > 0)
        .withColumn("deducted", F.lit(int(deducted)))
        .withColumn("n_total", F.lit(int(n_total)))
    )
    meta = spark.createDataFrame(
        [(None, 0, int(deducted), int(n_total))],
        "key string, cnt long, deducted long, n_total long",
    )
    out = kept.select("key", "cnt", "deducted", "n_total").unionByName(meta)
    # snapshot reads the previous snapshot's files; materialize before the
    # write in case pruning below removes them mid-plan
    out = out.localCheckpoint(eager=True)
    write_snapshot(out, root, batch_id)


def heavy_hitters_view(spark: SparkSession, state_dir: str, k: int = 10) -> DataFrame:
    """Current top-k estimate: (key, est, est_upper, deducted, n_total).

    ``est`` is the guaranteed lower bound, ``est_upper = est + deducted``
    the guaranteed upper bound; any key with true count > deducted is
    guaranteed to appear in the summary.
    """
    latest = newest_snapshot(os.path.join(state_dir, _SUMMARY))
    if latest is None:
        raise FileNotFoundError(f"no heavy-hitter state under {state_dir}")
    s = spark.read.parquet(latest)
    return (
        s.filter(F.col("key").isNotNull())
        .select(
            "key",
            F.col("cnt").alias("est"),
            (F.col("cnt") + F.col("deducted")).alias("est_upper"),
            "deducted",
            "n_total",
        )
        .orderBy(F.desc("est"), "key")
        .limit(k)
    )


def start_heavy_hitters_load(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    m: int = 64,
    trigger_seconds: int | None = None,
):
    """Wire a stream into the summary maintainer; caller owns lifecycle."""
    return start_maintainer(
        source,
        lambda df, bid: merge_heavy_hitters_batch(
            df.sparkSession, state_dir, df, bid, key_col=key_col, m=m
        ),
        checkpoint_dir,
        trigger_seconds,
    )
