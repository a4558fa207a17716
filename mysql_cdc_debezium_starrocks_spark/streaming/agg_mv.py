"""Generic incremental aggregate materialized view: arbitrary group keys and
algebraic aggregates maintained per micro-batch as MERGEABLE PARTIALS — the
CREATE MATERIALIZED VIEW analog, and the engine's one store of mergeable
partials: the minute rollup (rollup.py), the streaming HLL registers
(hll_ingest.py), the table statistics (table_stats.py) and the theta key
sketches (theta_stats.py) are each a key projection plus one (keys, spec)
constant over this module.

The classical split (Gray et al., data-cube taxonomy): an aggregate is
incrementally maintainable iff its partial state merges associatively —
  count/sum  -> add        min/max -> min/max
  avg        -> (sum, count) pair  ndv     -> HLL sketch union
  hist       -> fixed-width bin counts (element-wise add)
  kmv        -> k smallest distinct values of the union
Holistic aggregates (EXACT median/percentile) have no bounded mergeable
state; ask for one and this module refuses loudly rather than silently
recomputing — the scale answer is the ``hist`` aggregate below: a
fixed-width histogram sketch whose partial state is B counters per group
(mergeable by element-wise sum), finalized at read time into p50/p95/p99
bin-midpoint estimates with error bounded by half a bin width (the same
mergeable-quantile formulation as the batch ``hist_quantile_bins`` query).

Per micro-batch: ONE partial aggregation of the batch (map-side combined),
written under ``contrib/batch=<id>`` (batch-keyed overwrite — replay
regenerates the same dir; a batch id the committed baseline already folded
is refused, since every read skips its dir).  Readers merge all
contributions with the same associative functions — O(groups x batches)
rows, folded by compaction into a committed baseline
(``_state.fold_verbatim``); the read is the compaction's merge
(:func:`_refold_aggs`) plus a finalizing projection.  Two merges depend on
the order of their inputs: floating-point addition, and the HLL sketch
union, whose estimate moves with the order sketches merge in.  Both run as
a left fold in batch-id order (:func:`_fold_in_batch_order`), and the
baseline is tagged with the highest id it folds, so compaction keeps the
fold sequence: every aggregate is bit-identical at any parallelism and
across compaction.
No shared state is ever read on the write path, so batch cost is
O(batch), never O(view).

Spec: ``{"out_col": ("fn", "in_col")}`` with fn in COUNT/SUM/MIN/MAX/AVG/NDV,
plus ``("hist", col, lo, hi, nbins)`` for the quantile sketch (values outside
[lo, hi) clamp to the edge bins, so totals are conserved) and
``("kmv", col, k)``: the k smallest distinct non-NULL values of ``col`` as a
sorted array (a KMV sketch when ``col`` is a LONG hash).  Its partial
collects a group's distinct values before it cuts them to k, so feed it a
projection already limited to k rows per group.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, StructType

from ._state import (
    fold_state,
    fold_verbatim,
    guard_folded_replay,
    read_batch_tagged,
    start_maintainer,
)

_CONTRIB = "contrib"
MERGEABLE = ("count", "sum", "min", "max", "avg", "ndv", "hist", "kmv")
_HIST_MAX_BINS = 512


def _check_spec(spec: dict) -> None:
    bad = {k: v for k, v in spec.items() if v[0] not in MERGEABLE}
    if bad:
        raise ValueError(
            f"non-mergeable aggregates {bad}: holistic functions (median, "
            f"exact percentile, mode) have no bounded partial state — use "
            f"the ('hist', col, lo, hi, nbins) quantile sketch instead"
        )
    for k, v in spec.items():
        if v[0] == "hist":
            if len(v) != 5:
                raise ValueError(
                    f"hist spec {k!r} must be ('hist', col, lo, hi, nbins)"
                )
            _fn, _col, lo, hi, nbins = v
            if not (lo < hi) or not (2 <= int(nbins) <= _HIST_MAX_BINS):
                raise ValueError(
                    f"hist spec {k!r}: need lo < hi and 2 <= nbins <= "
                    f"{_HIST_MAX_BINS}, got lo={lo} hi={hi} nbins={nbins}"
                )
        elif v[0] == "kmv" and (len(v) != 3 or int(v[2]) < 1):
            raise ValueError(f"kmv spec {k!r} must be ('kmv', col, k >= 1)")


def _hist_bin(col: str, lo: float, hi: float, nbins: int):
    """Clamped fixed-width bin index; NULL and NaN inputs stay NULL (not
    counted)."""
    w = (hi - lo) / nbins
    d = F.col(col).cast("double")
    idx = F.floor((d - F.lit(float(lo))) / F.lit(w)).cast("int")
    clamped = F.least(F.greatest(idx, F.lit(0)), F.lit(nbins - 1))
    # the clamp itself needs a NULL/NaN guard: greatest(NULL, 0) returns 0
    # (greatest SKIPS nulls) and a NaN floors to 0 under non-ANSI Spark, so
    # without this both would silently land in the lowest bin
    return F.when(d.isNull() | F.isnan(d), F.lit(None).cast("int")).otherwise(
        clamped
    )


def _hist_quantile(arr, total, q: float, lo: float, w: float, nbins: int):
    """Bin-midpoint quantile estimate from a merged count array — a bounded
    HOF fold over nbins elements per OUTPUT row (not per input row)."""
    target = F.ceil(total.cast("double") * F.lit(q))
    zipped = F.zip_with(
        arr,
        F.sequence(F.lit(0), F.lit(nbins - 1)),
        lambda c, i: F.struct(c.alias("c"), i.alias("i")),
    )
    st = F.aggregate(
        zipped,
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(-1).alias("idx")
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["c"]).alias("cum"),
            F.when(
                (acc["idx"] < 0) & ((acc["cum"] + x["c"]) >= target), x["i"]
            )
            .otherwise(acc["idx"])
            .alias("idx"),
        ),
    )
    return F.when(total == 0, F.lit(None).cast("double")).otherwise(
        F.lit(float(lo)) + (st["idx"].cast("double") + 0.5) * F.lit(w)
    )


def _partial_aggs(spec: dict) -> list:
    out = []
    for name, entry in spec.items():
        fn, col = entry[0], entry[1]
        if fn == "hist":
            _fn, _col, lo, hi, nbins = entry
            b = _hist_bin(col, lo, hi, int(nbins))
            out.extend(
                F.sum(F.when(b == i, 1).otherwise(0))
                .cast("long")
                .alias(f"{name}__h{i}")
                for i in range(int(nbins))
            )
        elif fn == "count":
            out.append(F.count(F.lit(1)).alias(f"{name}__cnt"))
        elif fn == "sum":
            out.append(F.sum(col).alias(f"{name}__sum"))
        elif fn == "min":
            out.append(F.min(col).alias(f"{name}__min"))
        elif fn == "max":
            out.append(F.max(col).alias(f"{name}__max"))
        elif fn == "avg":
            out.append(F.sum(col).alias(f"{name}__sum"))
            out.append(F.count(col).alias(f"{name}__cnt"))
        elif fn == "ndv":
            out.append(
                F.hll_sketch_agg(F.col(col).cast("string")).alias(f"{name}__hll")
            )
        elif fn == "kmv":
            out.append(
                F.slice(F.array_sort(F.collect_set(col)), 1, int(entry[2]))
                .alias(f"{name}__kmv")
            )
    return out


def _fold_in_batch_order(col: str, dtype, step):
    """Merge partial rows tagged with ``batch``
    (:func:`_state.read_batch_tagged`) as a left fold ``step(acc, x)`` in
    batch-id order, NULL partials skipped.  Spark's aggregates merge in
    scan-partition or shuffle-fetch order, which would move an
    order-dependent merge with the parallelism and across a compaction."""
    xs = F.array_sort(F.collect_list(F.struct("batch", F.col(col).alias("v"))))
    return F.aggregate(
        xs,
        F.lit(None).cast(dtype),
        lambda acc, x: F.coalesce(step(acc, x["v"]), acc, x["v"]),
    )


def _sum_in_batch_order(col: str, schema: StructType):
    """``sum(col)``: a float column is not associative under addition, so
    it folds in batch-id order; other types add exactly, in any order."""
    dtype = schema[col].dataType
    if not isinstance(dtype, (DoubleType, FloatType)):
        return F.sum(col)
    return _fold_in_batch_order(col, dtype, lambda acc, x: acc + x)


def _kmv_merge(name: str, k: int):
    """The k smallest distinct values of a group's partial arrays: exact
    and independent of merge order."""
    vals = F.flatten(F.collect_list(f"{name}__kmv"))
    return F.slice(F.array_sort(F.array_distinct(vals)), 1, k)


def _refold_aggs(spec: dict, schema: StructType) -> list:
    """Merge partials INTO partials — the one merge: compaction stores its
    output as the baseline, and the read finalizes it (:func:`_finals`)."""
    out = []
    for name, entry in spec.items():
        fn = entry[0]
        if fn == "hist":
            nbins = int(entry[4])
            out.extend(
                F.coalesce(F.sum(f"{name}__h{i}"), F.lit(0))
                .cast("long")
                .alias(f"{name}__h{i}")
                for i in range(nbins)
            )
        elif fn == "count":
            out.append(F.sum(f"{name}__cnt").alias(f"{name}__cnt"))
        elif fn == "sum":
            out.append(
                _sum_in_batch_order(f"{name}__sum", schema).alias(f"{name}__sum")
            )
        elif fn == "min":
            out.append(F.min(f"{name}__min").alias(f"{name}__min"))
        elif fn == "max":
            out.append(F.max(f"{name}__max").alias(f"{name}__max"))
        elif fn == "avg":
            out.append(
                _sum_in_batch_order(f"{name}__sum", schema).alias(f"{name}__sum")
            )
            out.append(F.sum(f"{name}__cnt").alias(f"{name}__cnt"))
        elif fn == "ndv":
            # the union's estimate depends on merge order
            out.append(
                _fold_in_batch_order(f"{name}__hll", "binary", F.hll_union)
                .alias(f"{name}__hll")
            )
        elif fn == "kmv":
            out.append(_kmv_merge(name, int(entry[2])).alias(f"{name}__kmv"))
    return out


_PARTIAL = {"count": "cnt", "sum": "sum", "min": "min", "max": "max", "kmv": "kmv"}


def _finals(spec: dict) -> list:
    """The view's columns from one merged partial row per group."""
    out = []
    for name, entry in spec.items():
        fn = entry[0]
        if fn == "hist":
            _fn, _col, lo, hi, nbins = entry
            nbins = int(nbins)
            w = (hi - lo) / nbins
            arr = F.array(*[F.col(f"{name}__h{i}") for i in range(nbins)])
            total = F.aggregate(
                arr, F.lit(0).cast("long"), lambda a, x: a + x
            )
            out.append(
                F.struct(
                    total.alias("n"),
                    _hist_quantile(arr, total, 0.5, lo, w, nbins).alias("p50"),
                    _hist_quantile(arr, total, 0.95, lo, w, nbins).alias("p95"),
                    _hist_quantile(arr, total, 0.99, lo, w, nbins).alias("p99"),
                ).alias(name)
            )
        elif fn == "avg":
            out.append((F.col(f"{name}__sum") / F.col(f"{name}__cnt")).alias(name))
        elif fn == "ndv":
            out.append(F.hll_sketch_estimate(f"{name}__hll").alias(name))
        else:
            out.append(F.col(f"{name}__{_PARTIAL[fn]}").alias(name))
    return out


def compact_agg_mv(
    spark: SparkSession,
    state_dir: str,
    keys: list[str],
    spec: dict,
    keep_last: int = 2,
) -> None:
    """Fold all but the newest ``keep_last`` contribution dirs (plus the old
    baseline) into a new committed baseline of PARTIAL rows — the
    ``_state.fold_verbatim`` scheme, re-merging partials with the same
    associative functions (float sums and sketch unions in batch-id order,
    the baseline tagged with the highest id it folds)."""
    _check_spec(spec)
    fold_verbatim(
        spark,
        os.path.join(state_dir, _CONTRIB),
        keep_last,
        agg=lambda df: df.groupBy(*keys).agg(*_refold_aggs(spec, df.schema)),
    )


def merge_agg_mv_batch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    keys: list[str],
    spec: dict,
    batch_id: int,
) -> None:
    """Fold one micro-batch to per-group partials in its own contrib dir.
    A batch id the committed baseline already folded raises (its dir would
    be invisible to every read)."""
    _check_spec(spec)
    guard_folded_replay(os.path.join(state_dir, _CONTRIB), batch_id)
    partials = batch.groupBy(*keys).agg(*_partial_aggs(spec))
    partials.write.mode("overwrite").parquet(
        os.path.join(state_dir, _CONTRIB, f"batch={batch_id}")
    )


def read_agg_mv(
    spark: SparkSession, state_dir: str, keys: list[str], spec: dict
) -> DataFrame:
    """The view: all contributions re-merged with the associative finals."""
    _check_spec(spec)
    root = os.path.join(state_dir, _CONTRIB)
    base, ids = fold_state(root)
    contribs = read_batch_tagged(spark, root, ids, base)
    if contribs is None:
        raise FileNotFoundError(f"no agg-MV state under {state_dir}")
    merged = contribs.groupBy(*keys).agg(*_refold_aggs(spec, contribs.schema))
    return merged.select(*keys, *_finals(spec))


def start_agg_mv_load(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    spec: dict,
    trigger_seconds: int | None = None,
    compact_every: int | None = None,
    keep_last: int = 2,
):
    """Wire a stream into the view maintainer; caller owns lifecycle.

    ``compact_every`` = retention hook: every Nth batch, fold old
    contribution dirs into the committed baseline (:func:`compact_agg_mv`)
    so a long-running load keeps a bounded dir count instead of accreting
    one per batch forever — the StarRocks-compaction analog
    (docs/ARCHITECTURE.md:120-129).
    """
    _check_spec(spec)
    return start_maintainer(
        source,
        lambda df, bid: merge_agg_mv_batch(
            df.sparkSession, state_dir, df, keys, spec, bid
        ),
        checkpoint_dir,
        trigger_seconds,
        compact=lambda s: compact_agg_mv(s, state_dir, keys, spec, keep_last),
        compact_every=compact_every,
    )
