"""State-consistency audit: prove the incremental materialization equals a
full replay of the event log — the ops tool for "is my table right?".

The reference pipeline verifies convergence by row-count sampling
(benchmark.sh result-scan checks); this audit is the strict version: replay
the ENTIRE retained log through the same LWW reduction the materializer
uses and diff the live rows value-by-value (both directions, multiset
semantics).  Any nonzero diff pinpoints drift from a lost batch, a manual
state edit, or a bug — before downstream queries consume it.

Cost model: one full log scan + one state scan + a sort-merge exceptAll on
each side.  That is O(log + state) — an OFFLINE maintenance pass (run it
off-peak or on a snapshot), not part of the serving path.  At 100 TB you
bound it by auditing per bucket (``buckets=`` narrows both sides to one
hash bucket — same partition pruning the merge path uses), sampling buckets
round-robin.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..cdc.apply import apply_cdc_log, parse_envelope
from ..cdc.schemas import INGEST_SCHEMA
from ..storage import bucket_of
from .materializer import CdcLoadConfig, read_state


def audit_state(
    spark: SparkSession, cfg: CdcLoadConfig, buckets: list[int] | None = None
) -> dict:
    """Diff live state rows against a full-log replay.

    Returns ``{"replay_rows", "state_rows", "missing", "extra",
    "consistent"}`` — ``missing`` = rows the replay expects that the state
    lacks; ``extra`` = rows the state has that the replay does not.
    ``buckets`` restricts both sides to those PK hash buckets (partition-
    pruned state read; the incremental audit pattern).
    """
    events = spark.read.schema(INGEST_SCHEMA).json(cfg.source_dir)
    expected = apply_cdc_log(parse_envelope(events, cfg.envelope), cfg.key)
    actual = read_state(spark, cfg)

    if buckets is not None:
        b = bucket_of(cfg.key, cfg.buckets)
        expected = expected.filter(b.isin(buckets))
        if actual is not None:
            actual = actual.filter(b.isin(buckets))

    cols = sorted(expected.columns)
    e = expected.select(*cols)
    a = (
        actual.select(*cols)
        if actual is not None
        else spark.createDataFrame([], e.schema)
    )
    n_e, n_a = e.count(), a.count()
    missing = e.exceptAll(a).count()
    extra = a.exceptAll(e).count()
    return {
        "replay_rows": n_e,
        "state_rows": n_a,
        "missing": missing,
        "extra": extra,
        "consistent": missing == 0 and extra == 0,
    }
