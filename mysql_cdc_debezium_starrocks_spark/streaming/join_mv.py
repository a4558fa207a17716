"""Incrementally-maintained join materialized view (fact ⋈ dim) with delta
propagation from BOTH sides — the StarRocks synchronous-MV / Delta Live
Tables pattern rebuilt on the engine's own bucketed-LWW machinery.

The view is ``latest(fact) LEFT JOIN latest(dim) ON fact.fk = dim.pk``,
maintained without ever recomputing the join:

- **Fact deltas** are enriched against current dim state (one equi-join; the
  dim side is a partition-pruned read of only the dim buckets the delta's
  FKs touch) and LWW-merged into the view by fact PK.
- **Dim deltas** are first LWW-merged into the maintained dim state, then
  propagated: only the VIEW buckets matching the changed dim keys are read
  (the view is hash-partitioned by FK — the secondary index that makes
  dim-side propagation O(touched buckets), not O(view)), their enrichment
  columns rewritten, and those buckets overwritten in place.
- A dim delete nulls the enrichment (left-join semantics) via its retained
  tombstone; a fact delete LWW-merges a tombstone the reader filters.

Cost model at 100 TB: every step is partition-pruned to the buckets the
batch touches; nothing scans the full view or full dim.  Replay safety
comes from the algebra, not versioning: LWW max-by-seq reduction and the
enrichment rewrite are both idempotent functions of (state, batch), so
re-running a crashed batch converges to the identical view (asserted in
tests/test_join_mv.py, along with equivalence to a from-scratch
recomputation under arbitrary fact/dim interleavings).

Constraint (documented, asserted in tests): the fact's FK is immutable
across updates to a live fact row — an FK rewrite would need a tombstone in
the old FK bucket (the same constraint StarRocks sync MVs impose by
forbidding key-column updates).  Orphan fact rows (FK arriving before the
dim row) enrich as NULL and are healed by the dim insert's propagation.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.apply import latest_by_key, not_deleted
from ..storage import (
    BUCKET_COL,
    bucket_of,
    overwrite_buckets,
    read_if_exists,
    upsert_buckets,
)
from ._state import start_maintainer


@dataclass
class JoinMVConfig:
    state_dir: str
    fact_key: str  # fact PK (view key)
    fk: str  # fact column joining to the dim
    dim_key: str  # dim PK
    dim_cols: tuple  # dim payload columns to denormalize into the view
    buckets: int = 8
    # DDL types for dim_cols, positionally.  Needed when a fact batch
    # arrives before ANY dim state exists: the NULL enrichment must be
    # typed (parquet cannot store NullType) and must match the type later
    # dim batches will write into the same view.
    dim_types: tuple = ()

    @property
    def mv_path(self) -> str:
        return os.path.join(self.state_dir, "mv")

    @property
    def dim_path(self) -> str:
        return os.path.join(self.state_dir, "dim")


def _touched_buckets(df: DataFrame, key_col: str, buckets: int) -> list[int]:
    """Distinct buckets of a delta, refusing null routing keys in one job.

    A fact delete without its FK (or a dim row without its PK) would bucket
    under hash(NULL) and silently fail to supersede the live row — the same
    class of bug as the reference's never-mapped __deleted column, so it is
    an error here, not a quiet misroute.
    """
    probe = F.when(F.col(key_col).isNull(), F.lit(-1)).otherwise(
        bucket_of(key_col, buckets)
    )
    touched = [r["b"] for r in df.select(probe.alias("b")).distinct().collect()]
    if -1 in touched:
        raise ValueError(
            f"delta rows with NULL {key_col!r}: every delta row (deletes "
            f"included) must carry its routing key"
        )
    return touched


def _enrich(fact: DataFrame, dim: DataFrame | None, cfg: JoinMVConfig) -> DataFrame:
    """LEFT-join latest dim payload onto fact rows (dim tombstones -> NULL)."""
    if dim is None:
        if not cfg.dim_types:
            # guessing a type here would write it into parquet; when real
            # dim rows later arrive with different types, the view holds
            # conflicting file schemas per bucket and scans fail (or
            # misread) — fail fast at the first fact-before-dim batch
            raise ValueError(
                "fact delta arrived before any dim state and cfg.dim_types "
                "is unset: NULL enrichment must be written with the exact "
                "types later dim batches will use — declare dim_types"
            )
        out = fact
        for c, t in zip(cfg.dim_cols, cfg.dim_types):
            out = out.withColumn(c, F.lit(None).cast(t))
        return out
    live = dim.filter(not_deleted()).select(
        F.col(cfg.dim_key).alias("_dk"), *[F.col(c) for c in cfg.dim_cols]
    )
    return fact.join(
        live, fact[cfg.fk] == live["_dk"], "left"
    ).drop("_dk")


def merge_join_mv_batch(
    spark: SparkSession,
    cfg: JoinMVConfig,
    fact_delta: DataFrame | None = None,
    dim_delta: DataFrame | None = None,
) -> None:
    """Fold one micro-batch of fact and/or dim changes into the view.

    Order matters and is fixed: dim state first, then dim->view
    propagation, then fact enrichment against the NEW dim state — so a fact
    row and its dim row arriving in the same batch join correctly.
    """
    dim_state = read_if_exists(spark, cfg.dim_path)

    if dim_delta is not None:
        touched = _touched_buckets(dim_delta, cfg.dim_key, cfg.buckets)
        merged = upsert_buckets(
            dim_state, dim_delta, touched,
            cfg.dim_key, cfg.dim_key, cfg.buckets,
        )
        merged = merged.localCheckpoint(eager=True)  # reads files we overwrite
        overwrite_buckets(merged, cfg.dim_path)
        dim_state = read_if_exists(spark, cfg.dim_path)

        # propagate: rewrite enrichment in ONLY the view buckets whose FK
        # hash matches a changed dim key (view is bucketed by FK in the dim
        # key's hash space, so those are the buckets the dim delta touched,
        # and their dim rows live in the same dim buckets)
        mv = read_if_exists(spark, cfg.mv_path)
        if mv is not None:
            aff = mv.filter(F.col(BUCKET_COL).isin(touched))
            redone = _enrich(
                aff.drop(*[c for c in cfg.dim_cols if c in aff.columns]),
                dim_state.filter(F.col(BUCKET_COL).isin(touched)),
                cfg,
            ).withColumn(BUCKET_COL, bucket_of(cfg.fk, cfg.buckets))
            redone = redone.localCheckpoint(eager=True)
            overwrite_buckets(redone, cfg.mv_path)

    if fact_delta is not None:
        # a NULL fact PK cannot be LWW-merged (all NULL keys collapse into
        # one junk group) — reject loudly, like NULL routing keys below
        if fact_delta.filter(F.col(cfg.fact_key).isNull()).limit(1).count():
            raise ValueError(
                f"fact delta rows with NULL {cfg.fact_key!r}: the view key "
                f"must be present on every row (deletes included)"
            )
        latest = latest_by_key(fact_delta, cfg.fact_key)
        touched = _touched_buckets(latest, cfg.fk, cfg.buckets)
        # the dim side shares the bucket hash space (same expr over dim_key
        # as over fk), so the enrichment join only needs the dim buckets
        # this delta touches — partition-pruned read, O(touched), not O(dim)
        dim_side = (
            dim_state.filter(F.col(BUCKET_COL).isin(touched))
            if dim_state is not None
            else None
        )
        enriched = upsert_buckets(
            read_if_exists(spark, cfg.mv_path),
            _enrich(latest, dim_side, cfg),
            touched,
            cfg.fact_key, cfg.fk, cfg.buckets,
        )
        enriched = enriched.localCheckpoint(eager=True)
        overwrite_buckets(enriched, cfg.mv_path)


def read_join_mv(spark: SparkSession, cfg: JoinMVConfig) -> DataFrame:
    """The live view: fact tombstones filtered, bucket column dropped."""
    mv = read_if_exists(spark, cfg.mv_path)
    if mv is None:
        raise FileNotFoundError(f"no MV state under {cfg.mv_path}")
    return mv.filter(not_deleted()).drop(BUCKET_COL)


def start_join_mv_load(
    spark: SparkSession,
    cfg: JoinMVConfig,
    source: DataFrame,
    fact_table: str,
    dim_table: str,
    fact_envelope,
    dim_envelope,
    checkpoint_dir: str,
    table_col: str = "_table",
    trigger_seconds: int | None = None,
):
    """Maintain the MV directly from a multi-table CDC wire stream.

    Debezium publishes every captured table onto its own topic; consumed
    together they form one stream with a table discriminator (the
    ``source.table`` field / topic name — reference debezium-connector.json
    include-list).  Each micro-batch splits on ``table_col``, parses each
    side with its own envelope, and folds BOTH deltas in one
    ``merge_join_mv_batch`` call — a single maintenance loop, so the two
    state stores never race.
    """
    from ..cdc.apply import parse_envelope

    def _fold(df: DataFrame, _bid: int) -> None:
        df = df.persist()
        try:
            fact_rows = df.filter(F.col(table_col) == fact_table)
            dim_rows = df.filter(F.col(table_col) == dim_table)
            fact_delta = (
                parse_envelope(fact_rows, fact_envelope)
                if not fact_rows.isEmpty()
                else None
            )
            dim_delta = (
                parse_envelope(dim_rows, dim_envelope)
                if not dim_rows.isEmpty()
                else None
            )
            merge_join_mv_batch(
                df.sparkSession, cfg, fact_delta=fact_delta, dim_delta=dim_delta
            )
        finally:
            df.unpersist()

    return start_maintainer(source, _fold, checkpoint_dir, trigger_seconds)
