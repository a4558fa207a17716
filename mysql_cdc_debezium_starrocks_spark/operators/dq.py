"""Data-quality gate operators.

The reference pipeline trusts MySQL to enforce referential integrity before
Debezium ever sees a row (mysql/init/01-init.sql declares the PK schema); a
lake-side engine ingesting CDC streams gets NO such guarantee — a child row
can land before its parent (out-of-order topics), or a parent delete can
orphan children (the reference never propagates deletes at all,
create-routine-load.sh:16,21).  ``dq_fk_orphans`` is the post-ingest audit
that makes the missing constraint visible: one row per FK relationship with
exact orphan counts and an integer-ppm orphan rate.

Scale shape: each relationship is ONE left join from the child's FK column
to the parent's distinct key set, aggregated to a single row with a
map-side-combinable count/sum — no window, no sort.  Parent key sets here
are dimension tables (broadcast); at 100 TB a large parent degrades to a
shuffle-hash join on the key, still one pass over the child.  The final
result is a UNION of 1-row aggregates — plan width grows with the number of
audited relationships, never with data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load

# (relationship label, child table, fk col, parent table, pk col)
_FK_RELS = (
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region.r_regionkey", "nation", "n_regionkey",
     "region", "r_regionkey"),
)


def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: per FK relationship, the child row
    count, rows whose FK is null, rows whose FK has no parent (orphans),
    distinct orphaned key count, and the orphan rate in integer ppm.

    All relationships sharing a child table audit in ONE scan of it.  The
    r08 shape chained three parent left-joins onto the fact stream and ran
    a multi-count-distinct aggregate, which plans as an Expand that
    re-emits every fact row 4x (guide §2.3: the r08 verdict's named target
    — the most expensive untouched query).  Now the scan explodes each row
    into narrow ``(relationship, key)`` pairs and a FIRST-LEVEL
    ``groupBy(rel, key)`` collapses the stream to per-key counts before
    anything else happens (guide §2.3 "aggregate before you shuffle"); the
    parent anti-membership join then probes DISTINCT KEYS, not fact rows,
    and the distinct-orphan-key count becomes a plain ``count(*)`` over
    key groups — no distinct-aggregate machinery, no Expand.

    At 100 TB this shape is strictly stronger: the old plan broadcast each
    parent's full distinct key set against every fact row (infeasible for
    a large parent — orders' PK set blows the 8 GB broadcast cap, forcing
    a shuffle of the whole fact stream), while here the post-aggregation
    join moves only (key, count) pairs, and the fact table is still read
    exactly once.

    Every relationship emits exactly one row, an empty child table
    included: its counts are 0 and its ``orphan_ppm`` is NULL (a rate over
    zero rows is undefined, and under ANSI the division would raise).  The
    per-relationship aggregate is left-joined onto the static relationship
    list for that, since an aggregate over no rows has no groups.
    """
    by_child: dict[str, list] = {}
    for rel, child_t, fk, parent_t, pk in _FK_RELS:
        by_child.setdefault(child_t, []).append((rel, fk, parent_t, pk))
    outs = []
    for child_t, rels in by_child.items():
        child = load(spark, sf_dir, child_t)
        if len(rels) > 1:
            kv = child.select(
                F.posexplode(
                    F.array(*[F.col(fk).cast("long") for _, fk, _, _ in rels])
                ).alias("_rid", "_key")
            )
        else:
            kv = child.select(
                F.lit(0).alias("_rid"),
                F.col(rels[0][1]).cast("long").alias("_key"),
            )
        g = kv.groupBy("_rid", "_key").agg(
            F.count(F.lit(1)).cast("long").alias("_cnt")
        )
        parents = [
            load(spark, sf_dir, p_tab)
            .select(
                F.lit(i).alias("_rid"), F.col(p_pk).cast("long").alias("_key")
            )
            .distinct()
            .withColumn("_hit", F.lit(1))
            for i, (_rel, _fk, p_tab, p_pk) in enumerate(rels)
        ]
        p = parents[0]
        for q in parents[1:]:
            p = p.unionAll(q)
        j = g.join(p, ["_rid", "_key"], "left")
        orphan = F.col("_key").isNotNull() & F.col("_hit").isNull()
        agg = j.groupBy("_rid").agg(
            F.sum("_cnt").cast("long").alias("n_child"),
            F.sum(F.when(F.col("_key").isNull(), F.col("_cnt")).otherwise(0))
            .cast("long")
            .alias("n_null_fk"),
            F.sum(F.when(orphan, F.col("_cnt")).otherwise(0))
            .cast("long")
            .alias("n_orphan"),
            F.count(F.when(orphan, F.lit(1))).cast("long").alias("n_orphan_keys"),
        )
        labels = spark.createDataFrame(
            [(i, rel) for i, (rel, *_rest) in enumerate(rels)],
            "_rid int, rel string",
        )
        counts = ["n_child", "n_null_fk", "n_orphan", "n_orphan_keys"]
        outs.append(
            labels.join(agg, "_rid", "left").select(
                "rel",
                *[F.coalesce(F.col(c), F.lit(0).cast("long")).alias(c)
                  for c in counts],
                F.expr("n_orphan * 1000000 div nullif(n_child, 0)")
                .cast("long")
                .alias("orphan_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _rel_sql(rel: str, child_t: str, fk: str, parent_t: str, pk: str) -> str:
    return f"""
    SELECT '{rel}' AS rel,
           count(*) AS n_child,
           coalesce(sum(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_null_fk,
           coalesce(sum(CASE WHEN c.{fk} IS NOT NULL AND p.pk IS NULL
                             THEN 1 ELSE 0 END), 0)::BIGINT AS n_orphan,
           count(DISTINCT CASE WHEN c.{fk} IS NOT NULL AND p.pk IS NULL
                               THEN c.{fk} END)::BIGINT AS n_orphan_keys,
           ((sum(CASE WHEN c.{fk} IS NOT NULL AND p.pk IS NULL THEN 1 ELSE 0 END)
             * 1000000) // nullif(count(*), 0))::BIGINT AS orphan_ppm
    FROM {child_t} c
    LEFT JOIN (SELECT DISTINCT {pk} AS pk FROM {parent_t}) p ON c.{fk} = p.pk"""


QUERIES = {"dq_fk_orphans": dq_fk_orphans}
ORACLE = {
    "dq_fk_orphans": " UNION ALL ".join(
        _rel_sql(*r) for r in _FK_RELS
    )
}
