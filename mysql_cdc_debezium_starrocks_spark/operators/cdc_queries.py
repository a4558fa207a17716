"""Oracle-checked queries over the CDC pipeline (SURVEY.md §2.1, §2.10).

``cdc_apply`` runs the FULL wire path — JSON envelope serialization (both
shapes), tombstones, decimal-as-string, ``TS_WIRE_FORMAT`` timestamp
strings, parse, unwrap, last-write-wins keyed apply with delete handling —
and the oracle mirrors only the *semantics* (latest non-deleted version per
key), proving the wire round-trip is lossless.

Covers reference behaviors S6/S7/S8, P6/P7, T4/T5 and the verification
queries of test-pipeline.sh:35-40 / README.md:91-92.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.apply import materialize_orders
from ..cdc.generator import synth_order_events_json
from ._artifacts import artifact

# The oracle derives the same event log relationally: base insert, update for
# key%5==0 (status UPDATED, +10.00 exact decimal), delete for key%7==0.
_ORACLE_EV = """
WITH ev AS (
  SELECT o_orderkey*3 AS _seq, o_orderkey AS order_key, o_custkey AS cust_key,
         o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(10,2)) AS total_price,
         o_orderdate AS order_ts, o_orderpriority AS priority,
         'false' AS __deleted
  FROM orders
  UNION ALL
  SELECT o_orderkey*3+1, o_orderkey, o_custkey, 'UPDATED',
         CAST(CAST(o_totalprice AS DECIMAL(10,2)) + CAST('10.00' AS DECIMAL(10,2)) AS DECIMAL(10,2)),
         o_orderdate, o_orderpriority, 'false'
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey*3+2, o_orderkey, NULL, NULL, NULL, NULL, NULL, 'true'
  FROM orders WHERE o_orderkey % 7 = 0
)"""

_ORACLE_LIVE = _ORACLE_EV + """,
latest AS (
  SELECT * FROM (
    SELECT ev.*, row_number() OVER (PARTITION BY order_key ORDER BY _seq DESC) AS rn
    FROM ev
  ) t WHERE rn = 1
)
SELECT order_key, cust_key, status, total_price, order_ts, priority
FROM latest WHERE __deleted <> 'true'
"""


def _live(spark: SparkSession, sf_dir: str) -> DataFrame:
    return materialize_orders(synth_order_events_json(spark, sf_dir))


def _parsed_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized ("cdc_parsed_log") parsed wire log — the "write the
    parsed log once, scan it many" layout every log-reading query shares
    (as-of, diff, SCD2, monitor; r08)."""
    from ..cdc.apply import parse_envelope

    return artifact(
        spark,
        sf_dir,
        "cdc_parsed_log",
        lambda: parse_envelope(synth_order_events_json(spark, sf_dir)),
    )


def _live_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized ("cdc_live") materialized live table for the
    verification queries that READ it (top-k, counts) — the reference's own
    load-once-query-many split (its test-pipeline.sh verification SQL hits
    the StarRocks table Routine Load materialized, not the wire).  ONE memo
    site building via the same :func:`_live` the full-path ``cdc_apply``
    runs, so the two can never diverge; ``cdc_apply`` itself stays the
    un-memoized wire-path measurement."""
    return artifact(
        spark, sf_dir, "cdc_live", lambda: _live(spark, sf_dir)
    )


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full materialized live table after applying the CDC log."""
    return _live(spark, sf_dir)


def cdc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README.md:91-92 verification query: newest 5 rows by key."""
    return _live_shared(spark, sf_dir).orderBy(F.col("order_key").desc()).limit(5)


def cdc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """test-pipeline.sh:38-40 COUNT verification, grouped by status."""
    return (
        _live_shared(spark, sf_dir)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 history derived from the CDC log.

    Each non-delete event becomes a row version with a validity interval
    ``[valid_from_seq, valid_to_seq)``; a later event (including a delete)
    closes the previous version, and an open interval marks the current row.
    This is the standard temporal-history materialization CDC pipelines
    maintain next to the live table (the reference only keeps the live
    last-write-wins state — SURVEY.md §2.10 T4); one window over the PK
    partitioning, same shuffle key as the apply itself.
    """
    from pyspark.sql.window import Window

    parsed = _parsed_log(spark, sf_dir)
    w = Window.partitionBy("order_key").orderBy("_seq")
    hist = parsed.withColumn("version", F.row_number().over(w)).withColumn(
        "valid_to_seq", F.lead("_seq").over(w)
    )
    return hist.filter(F.col("__deleted") != "true").select(
        "order_key",
        "version",
        "status",
        F.col("total_price").cast("decimal(10,2)").alias("total_price"),
        F.col("_seq").alias("valid_from_seq"),
        "valid_to_seq",
        F.col("valid_to_seq").isNull().alias("is_current"),
    )


def cdc_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: reconstruct the live table AS OF a log position (here
    60% through the sequence space) — snapshot-read over the event log.

    The cutoff is a one-row broadcast scalar, the replay is the same
    partial-aggregatable ``max_by`` LWW reduction as the live apply, so an
    AS-OF read costs exactly one scan + one keyed shuffle at any scale (the
    pattern behind Delta/Iceberg time travel, driven from the CDC log the
    reference already retains in Kafka but cannot query).
    """
    from ..cdc.apply import apply_cdc_log
    from ..cdc.schemas import TS_WIRE_FORMAT

    # the cutoff aggregate AND the replay both consume the parsed log; the
    # session artifact (_parsed_log) caches it ONCE per dataset
    parsed = _parsed_log(spark, sf_dir)
    cut = parsed.agg(
        F.floor(F.max("_seq") * 0.6).cast("long").alias("cut")
    )
    upto = parsed.crossJoin(F.broadcast(cut)).filter(
        F.col("_seq") <= F.col("cut")
    ).drop("cut")
    live = apply_cdc_log(upto, key="order_key")
    return live.select(
        "order_key",
        "cust_key",
        "status",
        F.col("total_price").cast("decimal(10,2)").alias("total_price"),
        F.to_timestamp_ntz(F.col("order_ts"), F.lit(TS_WIRE_FORMAT)).alias("order_ts"),
        "priority",
    )


_ORACLE_ASOF = _ORACLE_EV + """,
cut AS (SELECT CAST(floor(max(_seq) * 0.6) AS BIGINT) AS cut FROM ev),
upto AS (SELECT ev.* FROM ev, cut WHERE _seq <= cut),
latest AS (
  SELECT * FROM (
    SELECT upto.*, row_number() OVER (PARTITION BY order_key ORDER BY _seq DESC) AS rn
    FROM upto
  ) t WHERE rn = 1
)
SELECT order_key, cust_key, status, total_price, order_ts, priority
FROM latest WHERE __deleted <> 'true'
"""


def cdc_diff_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-sync diff: per-key INSERT/UPDATE/DELETE between two log
    positions (40% and 80% through the sequence space) — the "what changed
    since my last sync" read a downstream consumer issues instead of
    re-copying the table (the CDC-log twin of Delta/Iceberg CDF).

    Both snapshots come out of ONE keyed shuffle: the groupBy aggregates
    ``max_by`` twice, once with the ordering key nulled past the first
    cutoff (``max_by`` ignores null orderings, so v1 is the key's state at
    t1, or NULL if the key was born later).  At 100 TB that is one log scan
    + one partial-aggregatable reduction, vs two full replays + a self-join
    for the naive two-snapshot diff.
    """
    parsed = _parsed_log(spark, sf_dir)
    cuts = parsed.agg(
        F.floor(F.max("_seq") * 0.4).cast("long").alias("cut1"),
        F.floor(F.max("_seq") * 0.8).cast("long").alias("cut2"),
    )
    ev = parsed.crossJoin(F.broadcast(cuts)).filter(F.col("_seq") <= F.col("cut2"))
    snap = F.struct("status", "total_price", "__deleted")
    st = ev.groupBy("order_key").agg(
        F.max_by(
            snap, F.when(F.col("_seq") <= F.col("cut1"), F.col("_seq"))
        ).alias("v1"),
        F.max_by(snap, F.col("_seq")).alias("v2"),
    )
    p1 = F.col("v1").isNotNull() & (F.col("v1.__deleted") != "true")
    p2 = F.col("v2").isNotNull() & (F.col("v2.__deleted") != "true")
    changed = ~F.col("v1.status").eqNullSafe(F.col("v2.status")) | ~F.col(
        "v1.total_price"
    ).eqNullSafe(F.col("v2.total_price"))
    change = (
        F.when(~p1 & p2, "INSERT")
        .when(p1 & ~p2, "DELETE")
        .when(p1 & p2 & changed, "UPDATE")
    )
    return (
        st.select(
            "order_key",
            change.alias("change"),
            F.when(p1, F.col("v1.status")).alias("old_status"),
            F.when(p2, F.col("v2.status")).alias("new_status"),
            F.when(p1, F.col("v1.total_price"))
            .cast("decimal(10,2)")
            .alias("old_total"),
            F.when(p2, F.col("v2.total_price"))
            .cast("decimal(10,2)")
            .alias("new_total"),
        )
        .filter(F.col("change").isNotNull())
    )


_ORACLE_DIFF = _ORACLE_EV + """,
cuts AS (SELECT CAST(floor(max(_seq) * 0.4) AS BIGINT) AS cut1,
                CAST(floor(max(_seq) * 0.8) AS BIGINT) AS cut2 FROM ev),
s1 AS (
  SELECT * FROM (
    SELECT ev.*, row_number() OVER (PARTITION BY order_key ORDER BY _seq DESC) AS rn
    FROM ev, cuts WHERE _seq <= cut1) t WHERE rn = 1),
s2 AS (
  SELECT * FROM (
    SELECT ev.*, row_number() OVER (PARTITION BY order_key ORDER BY _seq DESC) AS rn
    FROM ev, cuts WHERE _seq <= cut2) t WHERE rn = 1),
d AS (
  SELECT coalesce(s1.order_key, s2.order_key) AS order_key,
         (s1.order_key IS NOT NULL AND s1.__deleted <> 'true') AS p1,
         (s2.order_key IS NOT NULL AND s2.__deleted <> 'true') AS p2,
         s1.status AS os, s2.status AS ns,
         s1.total_price AS ot, s2.total_price AS nt
  FROM s1 FULL JOIN s2 ON s1.order_key = s2.order_key),
c AS (
  SELECT order_key, p1, p2, os, ns, ot, nt,
         CASE WHEN NOT p1 AND p2 THEN 'INSERT'
              WHEN p1 AND NOT p2 THEN 'DELETE'
              WHEN p1 AND p2 AND (os IS DISTINCT FROM ns
                                  OR ot IS DISTINCT FROM nt) THEN 'UPDATE'
         END AS change
  FROM d)
SELECT order_key, change,
       CASE WHEN p1 THEN os END AS old_status,
       CASE WHEN p2 THEN ns END AS new_status,
       CAST(CASE WHEN p1 THEN ot END AS DECIMAL(10,2)) AS old_total,
       CAST(CASE WHEN p2 THEN nt END AS DECIMAL(10,2)) AS new_total
FROM c WHERE change IS NOT NULL
"""


_ORACLE_SCD2 = _ORACLE_EV + """,
hist AS (
  SELECT ev.*,
         row_number() OVER (PARTITION BY order_key ORDER BY _seq) AS version,
         lead(_seq) OVER (PARTITION BY order_key ORDER BY _seq) AS valid_to_seq
  FROM ev)
SELECT order_key, version, status, total_price,
       _seq AS valid_from_seq, valid_to_seq,
       (valid_to_seq IS NULL) AS is_current
FROM hist WHERE __deleted <> 'true'
"""


QUERIES = {
    "cdc_apply": cdc_apply,
    "cdc_topk": cdc_topk,
    "cdc_counts": cdc_counts,
    "cdc_scd2": cdc_scd2,
    "cdc_asof_snapshot": cdc_asof_snapshot,
    "cdc_diff_window": cdc_diff_window,
}

ORACLE = {
    "cdc_asof_snapshot": _ORACLE_ASOF,
    "cdc_diff_window": _ORACLE_DIFF,
    "cdc_apply": _ORACLE_LIVE,
    "cdc_topk": f"SELECT * FROM ({_ORACLE_LIVE}) t ORDER BY order_key DESC LIMIT 5",
    "cdc_counts": f"SELECT status, count(*) AS n FROM ({_ORACLE_LIVE}) t GROUP BY status",
    "cdc_scd2": _ORACLE_SCD2,
}


def cdc_monitor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routine-load monitoring rollup — the reference's monitor.sh loop
    (per-op event counts eyeballed from SHOW ROUTINE LOAD / table diffs,
    monitor.sh:10-25) as one queryable operator over the wire log: classify
    every parsed event as insert / update / delete from the log alone
    (tombstone-flagged -> delete; first non-delete per key -> insert; later
    non-deletes -> update) and emit per-op event count, distinct keys
    touched, seq range, and the integer-ppm share of wire traffic.

    Scale shape: one JSON-parse scan, one window over the SAME (key, seq)
    partitioning the LWW apply itself shuffles on (a co-planned sort, no
    extra exchange), then a partial-agg'd groupBy to |op| rows; the traffic
    total is a broadcast scalar.  This is the per-batch health report a
    100 TB CDC ingest publishes continuously (op mix flips and key-churn
    spikes are the first symptom of an upstream schema/connector incident).
    """
    from pyspark.sql.window import Window

    # The parsed wire log is a session artifact: FOUR branches below
    # consume it (ops, the traffic total, and the ledger's probe + shifted
    # side), and without the cache each branch re-runs the JSON parse scan
    # (bench: 1.85x).  r08: rides the family-wide _parsed_log artifact
    # (one build serves monitor + as-of + diff + SCD2); the cached
    # relation column-prunes, so this 3-column read stays cheap.
    parsed = _parsed_log(spark, sf_dir).select(
        "order_key", "_seq", "__deleted"
    )
    w = Window.partitionBy("order_key").orderBy("_seq")
    nd_rank = F.sum(
        F.when(F.col("__deleted") != "true", 1).otherwise(0)
    ).over(w)
    op = (
        F.when(F.col("__deleted") == "true", F.lit("delete"))
        .when(nd_rank == 1, F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    ops = parsed.select("order_key", "_seq", op.alias("op"))
    total = ops.agg(F.count(F.lit(1)).alias("_t"))
    # Tombstone-GC interval-ledger stats over the log's committed-seq set
    # (r05 #4 / r06 #4: the fields jobs.show surfaces from the LIVE ledger,
    # here derived from the wire log as a one-batch commit — so
    # oldest_gap_age_batches is 0 whenever gaps exist; multi-batch ages are
    # a live-stream property and stay in jobs.show).  Islands are found
    # with shifted-key anti-joins (s is an interval start iff s-1 is absent,
    # an end iff s+1 is absent): distributed equi-joins on the seq key —
    # never a global-order window, which would single-reduce the whole log.
    seqs = parsed.select(F.col("_seq").cast("long").alias("s")).distinct()
    # ends alone determine everything: #intervals == #ends, and the FIRST
    # island's end (the contiguous horizon) is min(end) — one anti-join,
    # one aggregate, instead of a starts branch + an ends branch
    pred = seqs.select((F.col("s") - F.lit(1)).alias("s"))
    ledger = (
        seqs.join(pred, "s", "left_anti")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.min("s").cast("long").alias("contiguous_horizon"),
        )
        .select(
            "n_intervals",
            (F.col("n_intervals") - 1).cast("long").alias("n_gaps"),
            F.when(F.col("n_intervals") > 1, F.lit(0))
            .cast("long")
            .alias("oldest_gap_age_batches"),
            "contiguous_horizon",
        )
    )
    return (
        ops.groupBy("op")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("order_key").cast("long").alias("n_keys"),
            F.min("_seq").cast("long").alias("min_seq"),
            F.max("_seq").cast("long").alias("max_seq"),
        )
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(ledger))
        .select(
            "op",
            "n_events",
            "n_keys",
            "min_seq",
            "max_seq",
            F.expr("(n_events * 1000000) div _t").cast("long").alias("share_ppm"),
            "n_intervals",
            "n_gaps",
            "oldest_gap_age_batches",
            "contiguous_horizon",
        )
    )


QUERIES["cdc_monitor_profile"] = cdc_monitor_profile

ORACLE["cdc_monitor_profile"] = _ORACLE_EV + """,
lev AS (
  SELECT order_key, _seq, __deleted,
         sum(CASE WHEN __deleted <> 'true' THEN 1 ELSE 0 END)
           OVER (PARTITION BY order_key ORDER BY _seq) AS nd
  FROM ev),
ops AS (
  SELECT order_key, _seq,
         CASE WHEN __deleted = 'true' THEN 'delete'
              WHEN nd = 1 THEN 'insert' ELSE 'update' END AS op
  FROM lev),
tot AS (SELECT count(*) AS t FROM ops),
seqs AS (SELECT DISTINCT _seq AS s FROM ev),
ends AS (SELECT s FROM seqs WHERE s + 1 NOT IN (SELECT s FROM seqs)),
led AS (
  SELECT count(*)::BIGINT AS n_intervals,
         min(s)::BIGINT AS contiguous_horizon
  FROM ends)
SELECT op, count(*)::BIGINT AS n_events,
       count(DISTINCT order_key)::BIGINT AS n_keys,
       min(_seq)::BIGINT AS min_seq, max(_seq)::BIGINT AS max_seq,
       CAST((count(*) * 1000000) // (SELECT t FROM tot) AS BIGINT) AS share_ppm,
       (SELECT n_intervals FROM led) AS n_intervals,
       (SELECT n_intervals - 1 FROM led)::BIGINT AS n_gaps,
       (SELECT CASE WHEN n_intervals > 1 THEN 0 END FROM led)::BIGINT
         AS oldest_gap_age_batches,
       (SELECT contiguous_horizon FROM led) AS contiguous_horizon
FROM ops GROUP BY op
"""
